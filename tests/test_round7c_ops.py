"""Round-7 session-3 operators: PMI collocations, Cohen's kappa,
calibration/ECE, selection-rate parity, Holt smoothing, local
clustering coefficient, integer HITS.

Each test pins the operator's semantics on a hand-computable fixture
(the oracle gate separately pins engine-vs-DuckDB equality on the
testdata tables); the graph ops additionally pin the driver-vectorized
and distributed paths against each other.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- kappa
def test_cohens_kappa_hand_values(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import cohens_kappa

    # classic 2x2: gold = [a]*25+[b]*25, pred agrees on 20+15
    rows = (
        [("a", "a")] * 20
        + [("a", "b")] * 5
        + [("b", "b")] * 15
        + [("b", "a")] * 10
    )
    df = spark.createDataFrame(rows, "g STRING, p STRING")
    out = cohens_kappa(df, "g", "p").collect()[0]
    n = 50
    po = 35 / n
    pe = (25 * 30 + 25 * 20) / (n * n)
    kappa = (po - pe) / (1 - pe)
    assert out["n"] == n and out["n_agree"] == 35
    assert out["po_r"] == round(po, 9)
    assert out["pe_r"] == round(pe, 9)
    assert abs(out["kappa_r"] - kappa) < 1e-9


def test_cohens_kappa_perfect_and_degenerate(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import cohens_kappa

    perfect = spark.createDataFrame(
        [("a", "a")] * 3 + [("b", "b")] * 3, "g STRING, p STRING"
    )
    row = cohens_kappa(perfect, "g", "p").collect()[0]
    assert row["kappa_r"] == 1.0
    # both sides constant and equal -> pe = 1, kappa undefined (NULL)
    const = spark.createDataFrame([("a", "a")] * 4, "g STRING, p STRING")
    row = cohens_kappa(const, "g", "p").collect()[0]
    assert row["kappa_r"] is None and row["po_r"] == 1.0


# ---------------------------------------------------------- calibration
def test_calibration_table_exact_tiles_and_ece(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import calibration_table

    # 10 rows, scores 9..0, label = score >= 5 (perfectly separable)
    rows = [(i, float(9 - i), 1 if 9 - i >= 5 else 0) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id LONG, s DOUBLE, y INT")
    out = calibration_table(df, "s", "y", n_tiles=5, id_col="doc_id")
    pdf = out.orderBy("tile").toPandas()
    assert list(pdf["tile"]) == [1, 2, 3, 4, 5]
    assert list(pdf["n"]) == [2] * 5
    assert list(pdf["n_pos"]) == [2, 2, 1, 0, 0]
    # tile 1 holds scores 9,8 -> normalized ppb mean (9/9 + 8/9)/2
    assert pdf["mean_score_r"][0] == pytest.approx((1.0 + 8 / 9) / 2, abs=1e-8)
    # ece identical on every row and equals the weighted mean |gap|
    assert pdf["ece_r"].nunique() == 1
    expect_ece = sum(
        (pdf["n"][i] / 10) * abs(pdf["mean_score_r"][i] - pdf["pos_rate_r"][i])
        for i in range(5)
    )
    assert pdf["ece_r"][0] == pytest.approx(expect_ece, abs=1e-8)


def test_calibration_constant_score(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import calibration_table

    df = spark.createDataFrame(
        [(i, 1.0, i % 2) for i in range(8)], "doc_id LONG, s DOUBLE, y INT"
    )
    pdf = calibration_table(df, "s", "y", n_tiles=4, id_col="doc_id").toPandas()
    # min == max -> every ppb is 0 -> mean_score 0
    assert (pdf["mean_score_r"] == 0.0).all()
    assert pdf["n"].sum() == 8


# ---------------------------------------------------------------- parity
def test_selection_rate_parity_hand_values(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import (
        selection_rate_parity,
    )

    rows = [("g1", True)] * 8 + [("g1", False)] * 2 + [("g2", True)] * 4 + [
        ("g2", False)
    ] * 6
    df = spark.createDataFrame(rows, "grp STRING, sel BOOLEAN")
    pdf = (
        selection_rate_parity(df, "grp", "sel")
        .orderBy("grp")
        .toPandas()
        .set_index("grp")
    )
    assert pdf.loc["g1", "rate_r"] == 0.8
    assert pdf.loc["g2", "rate_r"] == 0.4
    assert pdf.loc["g1", "di_ratio_r"] == 1.0
    assert pdf.loc["g2", "di_ratio_r"] == 0.5  # fails the 4/5 rule
    assert pdf.loc["g1", "overall_rate_r"] == 0.6
    assert pdf.loc["g1", "parity_diff_r"] == pytest.approx(0.2, abs=1e-9)


# ------------------------------------------------------------------ holt
def _holt_ref(xs, a=0.3, b=0.1):
    lvl, tr = xs[0], xs[1] - xs[0]
    for x in xs[2:]:
        nl = a * x + (1 - a) * (lvl + tr)
        tr = b * (nl - lvl) + (1 - b) * tr
        lvl = nl
    return lvl, tr


def test_holt_linear_matches_python_fold(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import holt_linear

    # series A: 1,2,3 events on days 1,2,3; series B: 5 then 1
    rows = []
    for d, k in [(1, 1), (2, 2), (3, 3)]:
        rows += [("A", f"2024-01-0{d} 00:00:00")] * k
    rows += [("B", "2024-01-01 00:00:00")] * 5 + [("B", "2024-01-02 00:00:00")]
    df = spark.createDataFrame(rows, "event_type STRING, ts STRING").select(
        "event_type", F.col("ts").cast("timestamp").alias("ts")
    )
    pdf = (
        holt_linear(df, ["event_type"], alpha=0.3, beta=0.1, horizons=(1, 7))
        .orderBy("event_type")
        .toPandas()
        .set_index("event_type")
    )
    la, lta = _holt_ref([1.0, 2.0, 3.0])
    assert pdf.loc["A", "n_buckets"] == 3
    assert pdf.loc["A", "level_r"] == round(la, 9)
    assert pdf.loc["A", "trend_r"] == round(lta, 9)
    assert pdf.loc["A", "fc7_r"] == round(la + 7 * lta, 9)
    # 2-bucket series: state is exactly the init, no update applied
    assert pdf.loc["B", "level_r"] == 5.0 and pdf.loc["B", "trend_r"] == -4.0


def test_holt_linear_excludes_single_bucket_series(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import holt_linear

    df = spark.createDataFrame(
        [("solo", "2024-01-01 00:00:00")], "event_type STRING, ts STRING"
    ).select("event_type", F.col("ts").cast("timestamp").alias("ts"))
    assert holt_linear(df, ["event_type"]).count() == 0


# ------------------------------------------------------- local clustering
def test_local_clustering_known_graph(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.graph import local_clustering

    # K3 triangle {1,2,3} plus a tail 3-4: lcc(3) = 2*1/(3*2) = 1/3
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src LONG, dst LONG"
    )
    pdf = local_clustering(edges).orderBy("node").toPandas().set_index("node")
    assert list(pdf.index) == [1, 2, 3]  # node 4 has deg 1 -> excluded
    assert pdf.loc[1, "lcc_r"] == 1.0 and pdf.loc[2, "lcc_r"] == 1.0
    assert pdf.loc[3, "degree"] == 3 and pdf.loc[3, "n_tri"] == 1
    assert pdf.loc[3, "lcc_r"] == pytest.approx(1 / 3, abs=1e-9)


def test_local_clustering_triangle_free(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.graph import local_clustering

    # star graph: no triangles anywhere
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], "src LONG, dst LONG"
    )
    pdf = local_clustering(edges).toPandas()
    assert list(pdf["node"]) == [0] and pdf["n_tri"][0] == 0 and pdf["lcc_r"][0] == 0.0


def test_local_clustering_consistent_with_global(spark, sf001):
    """Sum over nodes of per-node triangles = 3 * global triangle count
    (each triangle has three corners)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.graph import (
        local_clustering,
        triangle_count,
    )

    li = spark.read.parquet(f"{sf001}/lineitem.parquet")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a, b = items.alias("a"), items.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= 2)
        .select("src", "dst")
    )
    total = triangle_count(edges).collect()[0]["n_triangles"]
    per_node_sum = (
        local_clustering(edges).agg(F.sum("n_tri")).collect()[0][0] or 0
    )
    assert per_node_sum == 3 * total


# ------------------------------------------------------------------ hits
def test_hits_known_graph(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.graph import hits_int

    # bipartite: hubs {1,2} -> authorities {10, 11}; 1 points to both
    edges = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10)], "src LONG, dst LONG"
    )
    pdf = hits_int(edges).toPandas().set_index("node")
    # node 1 (out-deg 2) is the stronger hub; node 10 (in-deg 2) the
    # stronger authority; pure authorities have hub 0 and vice versa
    assert pdf.loc[1, "hub_ppb"] > pdf.loc[2, "hub_ppb"] > 0
    assert pdf.loc[10, "auth_ppb"] > pdf.loc[11, "auth_ppb"] > 0
    assert pdf.loc[10, "hub_ppb"] == 0 and pdf.loc[11, "hub_ppb"] == 0
    assert pdf.loc[1, "auth_ppb"] == 0 and pdf.loc[2, "auth_ppb"] == 0


def test_hits_distributed_equals_driver(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.graph import hits_int

    edges = spark.createDataFrame(
        [(i, (i * 7) % 23) for i in range(200) if i != (i * 7) % 23]
        + [(i % 11, 100 + i % 5) for i in range(60)],
        "src LONG, dst LONG",
    )
    fast = {
        r["node"]: (r["hub_ppb"], r["auth_ppb"])
        for r in hits_int(edges, iters=4).collect()
    }
    dist = {
        r["node"]: (r["hub_ppb"], r["auth_ppb"])
        for r in hits_int(edges, iters=4, driver_threshold=0).collect()
    }
    assert fast == dist


# ------------------------------------------------------------------- pmi
def test_pmi_collocations_toy_corpus(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.text import pmi_collocations

    # "new york" always together (5x); "the cat/dog/car..." varied
    docs = [
        (1, "new york new york new york new york new york"),
        (2, "the cat the dog the car the cat the dog"),
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    pdf = pmi_collocations(df, min_count=5, top=10).toPandas()
    top = pdf.iloc[0]
    assert (top["w1"], top["w2"]) == ("new", "york")
    # 'new york' occurs 5x; 'new' is first-elem 5x (one 'york new' x4)
    assert top["c_xy"] == 5 and top["c_x"] == 5
    assert top["pmi_lift_r"] > 1.0
    # every released pair respects min_count
    assert (pdf["c_xy"] >= 5).all()


def test_pmi_lift_formula(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.text import pmi_collocations

    df = spark.createDataFrame(
        [(1, "a b " * 10)], "doc_id LONG, text STRING"
    )
    pdf = pmi_collocations(df, min_count=2, top=5).toPandas()
    row = pdf.set_index(["w1", "w2"]).loc[("a", "b")]
    n = int(pdf["c_xy"].sum())  # total bigrams = sum over released? no:
    # tokens: a b a b ... (20 tokens) -> 19 bigrams, (a,b) x10, (b,a) x9
    assert row["c_xy"] == 10 and row["c_x"] == 10 and row["c_y"] == 10
    assert row["pmi_lift_r"] == round(10 * 19 / (10 * 10), 6)


# --------------------------------------------------------------- logrank
def test_logrank_identical_groups_is_zero(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import logrank_test

    # two identical cohorts: O1 = E1 exactly -> chi2 ~ 0
    rows = [(t, 1, g) for t in (1.0, 2.0, 3.0, 4.0) for g in (0, 1)]
    df = spark.createDataFrame(rows, "duration DOUBLE, event INT, grp INT")
    out = logrank_test(df).collect()[0]
    assert out["n"] == 8 and out["n1"] == 4 and out["d"] == 8
    assert abs(out["o_minus_e_r"]) < 1e-9
    assert out["chi2_r"] == 0.0 or abs(out["chi2_r"]) < 1e-6


def test_logrank_hand_computed(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import logrank_test

    # group 1 dies at t=1,2; group 0 dies at t=3,4 (n=4, no censoring)
    rows = [(1.0, 1, 1), (2.0, 1, 1), (3.0, 1, 0), (4.0, 1, 0)]
    df = spark.createDataFrame(rows, "duration DOUBLE, event INT, grp INT")
    out = logrank_test(df).collect()[0]
    # hand: t=1: d=1,n=4,n1=2 -> e1=0.5, v=1*(0.5)(0.5)(3/3)=0.25
    #       t=2: d=1,n=3,n1=1 -> e1=1/3, v=(1/3)(2/3)(2/2)=2/9
    #       t=3: d=1,n=2,n1=0 -> e1=0,   v=0
    #       t=4: d=1,n=1,n1=0 -> e1=0,   v=0 (n_risk=1 guard)
    e1 = 0.5 + 1 / 3
    v = 0.25 + 2 / 9
    o1 = 2
    assert out["d1"] == 2
    assert out["o_minus_e_r"] == pytest.approx(o1 - e1, abs=1e-6)
    assert out["var_r"] == pytest.approx(v, abs=1e-6)
    assert out["chi2_r"] == pytest.approx((o1 - e1) ** 2 / v, abs=1e-4)


def test_logrank_censoring_reduces_at_risk(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import logrank_test

    # censored observation (event=0) counts at risk but adds no death
    rows = [(1.0, 1, 1), (2.0, 0, 0), (3.0, 1, 0)]
    df = spark.createDataFrame(rows, "duration DOUBLE, event INT, grp INT")
    out = logrank_test(df).collect()[0]
    assert out["d"] == 2 and out["n"] == 3


# ---------------------------------------------------------------- ktruss
def test_ktruss_k4_keeps_k4_drops_triangle(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.graph import ktruss

    # K4 on {1,2,3,4}: every edge in 2 triangles -> survives 4-truss.
    # Separate triangle {10,11,12}: support 1 -> peeled in round 1.
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    tri = [(10, 11), (11, 12), (10, 12)]
    edges = spark.createDataFrame(k4 + tri, "src LONG, dst LONG")
    pdf = ktruss(edges, k=4, rounds=3).toPandas()
    assert len(pdf) == 6
    assert set(zip(pdf["a"], pdf["b"])) == set(k4)
    assert (pdf["support"] == 2).all()


def test_ktruss_cascade_peel(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.graph import ktruss

    # K4 plus a pendant triangle sharing edge (1,2): edge (1,5)/(2,5)
    # have support 1 -> dropped round 1; K4 unaffected afterwards
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    extra = [(1, 5), (2, 5)]
    edges = spark.createDataFrame(k4 + extra, "src LONG, dst LONG")
    pdf = ktruss(edges, k=4, rounds=3).toPandas()
    assert set(zip(pdf["a"], pdf["b"])) == set(k4)


# -------------------------------------------------------- brown-forsythe
def test_brown_forsythe_equal_spread_near_zero(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import brown_forsythe

    # identical distributions shifted by a constant: spreads equal -> F ~ 0
    rows = [("a", float(v)) for v in (1, 2, 3, 4, 5)] + [
        ("b", float(v + 100)) for v in (1, 2, 3, 4, 5)
    ]
    df = spark.createDataFrame(rows, "g STRING, v DOUBLE")
    out = brown_forsythe(df, "v", "g").collect()[0]
    assert out["k"] == 2 and out["n"] == 10
    assert abs(out["f_r"]) < 1e-6


def test_brown_forsythe_detects_spread_difference(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import brown_forsythe

    rows = [("tight", float(v)) for v in (10, 10, 10, 10, 11)] + [
        ("wide", float(v)) for v in (0, 5, 10, 15, 20)
    ]
    df = spark.createDataFrame(rows, "g STRING, v DOUBLE")
    out = brown_forsythe(df, "v", "g").collect()[0]
    assert out["f_r"] > 4.0  # clearly unequal spreads


# ------------------------------------------------------ seasonal decompose
def test_seasonal_decompose_reconstructs_and_flat_trend(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import (
        seasonal_decompose_dow,
    )

    # 3 weeks of a pure weekly pattern: count = 10 + (dow index)
    rows = []
    import datetime

    for day in range(21):
        d = datetime.datetime(2024, 1, 1) + datetime.timedelta(days=day)
        for _ in range(10 + day % 7):
            rows.append((d,))
    df = spark.createDataFrame(rows, "ts TIMESTAMP")
    pdf = seasonal_decompose_dow(df).toPandas()
    # days with a full 7-row window: 21 - 6 = 15
    assert len(pdf) == 15
    # pure periodic signal: trend = weekly mean = 13, residual ~ 0
    assert (pdf["trend_r"] == 13.0).all()
    assert pdf["residual_r"].abs().max() < 1e-8
    # decomposition identity holds exactly (at rounding precision)
    recon = pdf["trend_r"] + pdf["seasonal_r"] + pdf["residual_r"]
    assert (recon - pdf["x"]).abs().max() < 1e-7


# ------------------------------------------------------------------- hll
def test_hll_distinct_accuracy_and_determinism(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.sketch import hll_distinct

    df = spark.createDataFrame(
        [(i % 5000,) for i in range(20000)], "k LONG"
    )
    out = hll_distinct(df, "k").collect()[0]
    assert out["n_exact"] == 5000
    # HLL(p=12) std error ~ 1.04/sqrt(4096) = 1.6%; allow 5%
    assert abs(out["est_r"] - 5000) / 5000 < 0.05
    # duplicates never change registers: same estimate without them
    out2 = hll_distinct(
        spark.createDataFrame([(i,) for i in range(5000)], "k LONG"), "k"
    ).collect()[0]
    assert out2["est_r"] == out["est_r"]


def test_hll_small_range_linear_counting(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.sketch import hll_distinct

    df = spark.createDataFrame([(i,) for i in range(100)], "k LONG")
    out = hll_distinct(df, "k").collect()[0]
    # far below 2.5m -> linear counting regime, very accurate
    assert abs(out["est_r"] - 100) < 5
    assert out["n_nonempty"] <= 100


# ----------------------------------------------------------- readability
def test_readability_hand_computed(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.text import readability_scores

    # "the cat sat." -> 3 words, 1 sentence, 3 syllables (e, a, a)
    df = spark.createDataFrame([(1, "the cat sat.")], "doc_id LONG, text STRING")
    out = readability_scores(df).collect()[0]
    assert out["n_words"] == 3 and out["n_sentences"] == 1
    assert out["n_syllables"] == 3
    expect = 206.835 - 1.015 * 3.0 - 84.6 * 1.0
    assert out["flesch_r"] == pytest.approx(expect, abs=1e-6)


def test_readability_empty_and_harder_text(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.text import readability_scores

    df = spark.createDataFrame(
        [(1, ""), (2, "Bureaucratic organizations perpetuate intricate hierarchies! Why?")],
        "doc_id LONG, text STRING",
    )
    pdf = readability_scores(df).toPandas().set_index("doc_id")
    assert pdf.loc[1, "flesch_r"] is None or pdf.loc[1].isna()["flesch_r"]
    # polysyllabic text scores much harder (lower) than "the cat sat."
    assert pdf.loc[2, "flesch_r"] < 10
    assert pdf.loc[2, "n_sentences"] == 2


# ------------------------------------------------------------- cramers v
def test_cramers_v_perfect_and_independent(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import cramers_v

    # perfect association: b determined by a -> V = 1
    perfect = spark.createDataFrame(
        [(a, f"lab{a}") for a in (1, 2, 3) for _ in range(10)], "a INT, b STRING"
    )
    row = cramers_v(perfect, "a", "b").collect()[0]
    assert row["v_r"] == pytest.approx(1.0, abs=1e-9)
    # exact independence: uniform grid -> chi2 = 0, V = 0
    indep = spark.createDataFrame(
        [(a, b) for a in (1, 2) for b in ("x", "y") for _ in range(5)],
        "a INT, b STRING",
    )
    row = cramers_v(indep, "a", "b").collect()[0]
    assert abs(row["chi2_r"]) < 1e-6 and abs(row["v_r"]) < 1e-3


# ----------------------------------------------------- cochran-armitage
def test_cochran_armitage_monotone_vs_flat(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import cochran_armitage

    # strong monotone trend: rate 0.1 / 0.5 / 0.9 over scores 0/1/2
    rows = []
    for s, pos in ((0, 10), (1, 50), (2, 90)):
        rows += [(s, True)] * pos + [(s, False)] * (100 - pos)
    df = spark.createDataFrame(rows, "s INT, f BOOLEAN")
    out = cochran_armitage(df, "s", "f").collect()[0]
    assert out["n"] == 300 and out["n_pos"] == 150 and out["k"] == 3
    assert out["chi2_r"] > 50  # overwhelming trend
    # flat rates -> statistic ~ 0
    flat = []
    for s in (0, 1, 2):
        flat += [(s, True)] * 30 + [(s, False)] * 70
    out = cochran_armitage(
        spark.createDataFrame(flat, "s INT, f BOOLEAN"), "s", "f"
    ).collect()[0]
    assert abs(out["t_r"]) < 1e-9 and out["chi2_r"] < 1e-6


# -------------------------------------------------------------- fertility
def test_token_fertility_values(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.text import token_fertility

    # "ab12 cd" -> 2 words; BPE-ish: ab|12|cd -> 3 subwords
    df = spark.createDataFrame(
        [(1, "en", "ab12 cd"), (2, "en", "x y")], "doc_id LONG, lang STRING, text STRING"
    )
    out = token_fertility(df).collect()[0]
    assert out["n_docs"] == 2 and out["n_words"] == 4
    assert out["n_bpe_tokens"] == 5
    assert out["fertility_r"] == 1.25


# ------------------------------------------------------------------- ipw
def test_ipw_ate_telescopes_to_stratified(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import ipw_ate

    # stratum A: treated mean 10, control mean 8 (effect 2, n=4)
    # stratum B: treated mean 20, control mean 19 (effect 1, n=4)
    rows = [
        ("A", 1, 10.0), ("A", 1, 10.0), ("A", 0, 8.0), ("A", 0, 8.0),
        ("B", 1, 20.0), ("B", 1, 20.0), ("B", 0, 19.0), ("B", 0, 19.0),
    ]
    df = spark.createDataFrame(rows, "g STRING, t INT, y DOUBLE")
    out = ipw_ate(df, "t", "y", "g").collect()[0]
    assert out["n_total"] == 8 and out["n_kept"] == 8
    assert out["ate_ipw_r"] == pytest.approx((4 * 2 + 4 * 1) / 8, abs=1e-9)


def test_ipw_ate_drops_no_overlap_strata(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import ipw_ate

    rows = [
        ("ok", 1, 5.0), ("ok", 0, 3.0),
        ("all_treated", 1, 100.0), ("all_treated", 1, 100.0),
    ]
    df = spark.createDataFrame(rows, "g STRING, t INT, y DOUBLE")
    out = ipw_ate(df, "t", "y", "g").collect()[0]
    assert out["n_total"] == 4 and out["n_kept"] == 2
    assert out["ate_ipw_r"] == pytest.approx(2.0, abs=1e-9)


# --------------------------------------------------------------- item cf
def test_item_cf_hand_values(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import item_cf_topk

    # baskets: {1,2} x3, {1,3} x1, {2,3} x1 -> c_1=4, c_2=4, c_3=2
    rows = (
        [(b, i) for b in (10, 11, 12) for i in (1, 2)]
        + [(13, 1), (13, 3), (14, 2), (14, 3)]
    )
    df = spark.createDataFrame(rows, "bk LONG, it LONG")
    pdf = item_cf_topk(df, "bk", "it", k=5, min_pair=1).toPandas()
    top1 = pdf[pdf["item"] == 1].sort_values("cosine_r", ascending=False).iloc[0]
    assert top1["other"] == 2
    assert top1["cosine_r"] == pytest.approx(3 / (4 * 4) ** 0.5, abs=1e-6)
    # symmetric pair appears on both sides
    assert ((pdf["item"] == 2) & (pdf["other"] == 1)).any()


def test_item_cf_respects_k_and_min_pair(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import item_cf_topk

    rows = [(b, i) for b in range(20) for i in (1, 2, 3, 4)]
    df = spark.createDataFrame(rows, "bk LONG, it LONG")
    pdf = item_cf_topk(df, "bk", "it", k=2, min_pair=2).toPandas()
    assert (pdf.groupby("item").size() <= 2).all()
    assert (pdf["c_pair"] >= 2).all()


# ------------------------------------------------------------ odds ratio
def test_odds_ratio_hand_values(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import odds_ratio_2x2

    # a=20 b=10 c=5 d=15 -> OR = 20*15/(10*5) = 6
    rows = (
        [(True, True)] * 20 + [(True, False)] * 10
        + [(False, True)] * 5 + [(False, False)] * 15
    )
    df = spark.createDataFrame(rows, "e BOOLEAN, o BOOLEAN")
    out = odds_ratio_2x2(df, "e", "o").collect()[0]
    assert (out["a"], out["b"], out["c"], out["d"]) == (20, 10, 5, 15)
    assert not out["corrected"]
    assert out["or_r"] == pytest.approx(6.0, abs=1e-6)
    assert out["ci_lo_r"] < 6.0 < out["ci_hi_r"]


def test_odds_ratio_haldane_on_zero_cell(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import odds_ratio_2x2

    rows = [(True, True)] * 5 + [(False, False)] * 5 + [(False, True)] * 2
    df = spark.createDataFrame(rows, "e BOOLEAN, o BOOLEAN")
    out = odds_ratio_2x2(df, "e", "o").collect()[0]
    assert out["corrected"] and out["or_r"] > 0  # finite despite b = 0


# --------------------------------------------------------------- mcnemar
def test_mcnemar_hand_values(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import mcnemar_test

    # b = 9 (A right, B wrong), c = 1 -> chi2 = 64/10, cc = 49/10
    rows = (
        [(True, True)] * 30 + [(True, False)] * 9
        + [(False, True)] * 1 + [(False, False)] * 10
    )
    df = spark.createDataFrame(rows, "ca BOOLEAN, cb BOOLEAN")
    out = mcnemar_test(df, "ca", "cb").collect()[0]
    assert out["b"] == 9 and out["c"] == 1 and out["n_both"] == 30
    assert out["chi2_r"] == pytest.approx(6.4, abs=1e-9)
    assert out["chi2_cc_r"] == pytest.approx(4.9, abs=1e-9)


def test_mcnemar_no_discordance_is_null(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import mcnemar_test

    df = spark.createDataFrame(
        [(True, True)] * 4 + [(False, False)] * 2, "ca BOOLEAN, cb BOOLEAN"
    )
    out = mcnemar_test(df, "ca", "cb").collect()[0]
    assert out["chi2_r"] is None


# ------------------------------------------------ streaming distinct users
def test_windowed_distinct_users_stream_matches_batch(spark, sf0001, tmp_path):
    """The two-stateful-op stream (dedup-within-watermark -> windowed
    count) must agree exactly with the batch countDistinct on every
    window it emits; append mode withholds only windows the final
    watermark hasn't closed."""
    import shutil

    from dbms_data_anonymity_differential_privacy_spark.streaming.audience import (
        windowed_distinct_users_batch,
        windowed_distinct_users_stream,
    )
    from dbms_data_anonymity_differential_privacy_spark.sources.readers import load_table

    ev = load_table(spark, sf0001, "events")
    batch = {
        r.window_start: r.n_users
        for r in windowed_distinct_users_batch(ev, window="1 day").collect()
    }
    stream_dir = tmp_path / "events"
    stream_dir.mkdir()
    shutil.copy(f"{sf0001}/events.parquet", stream_dir / "part-000.parquet")
    stream_df = windowed_distinct_users_stream(
        spark, str(stream_dir), window="1 day", watermark="1 hour"
    )
    q = (
        stream_df.writeStream.format("memory")
        .queryName("x211_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.window_start: r.n_users
        for r in spark.sql("SELECT * FROM x211_test").collect()
    }
    assert len(got) > 0
    # every emitted window is exactly the batch answer
    assert got == {k: batch[k] for k in got}
    # append mode may withhold the last windows (watermark lag only)
    assert len(got) >= len(batch) - 2


# -------------------------------------------------------------------- rmst
def test_rmst_hand_computed(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import rmst

    # deaths at t=2 (S: 1->0.75), t=4 (0.75->0.5); censored at 6, 8
    rows = [(2.0, 1), (4.0, 1), (6.0, 0), (8.0, 0)]
    df = spark.createDataFrame(rows, "duration DOUBLE, event INT")
    out = rmst(df, tau=5.0).collect()[0]
    # area: [0,2)x1 + [2,4)x0.75 + [4,5)x0.5 = 2 + 1.5 + 0.5 = 4.0
    assert out["rmst_r"] == pytest.approx(4.0, abs=1e-6)
    assert out["n"] == 4 and out["n_events_used"] == 2


def test_rmst_tau_before_first_event(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import rmst

    df = spark.createDataFrame([(10.0, 1), (20.0, 1)], "duration DOUBLE, event INT")
    out = rmst(df, tau=5.0).collect()[0]
    assert out["rmst_r"] == pytest.approx(5.0, abs=1e-6)  # S=1 throughout


# --------------------------------------------------------------------- pca
def test_pca_project_invariants(spark, sf0001):
    import numpy as np

    from dbms_data_anonymity_differential_privacy_spark.operators.embeddings import pca_project
    from dbms_data_anonymity_differential_privacy_spark.sources.readers import load_table

    emb = load_table(spark, sf0001, "embeddings")
    pdf = pca_project(emb, k=2).toPandas()
    assert len(pdf) == emb.count()
    v1, v2 = pdf["pc1_r"].var(ddof=0), pdf["pc2_r"].var(ddof=0)
    # variance ordering + components capture real variance
    assert v1 >= v2 > 0
    # projections are centered (mean ~ 0)
    assert abs(pdf["pc1_r"].mean()) < 1e-3
    # pc1 and pc2 are uncorrelated (orthogonal directions)
    corr = np.corrcoef(pdf["pc1_r"], pdf["pc2_r"])[0, 1]
    assert abs(corr) < 0.05


def test_pca_project_known_direction(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.embeddings import pca_project

    # variance concentrated on axis 0: pc1 must be that axis
    rows = [(i, [float(i), 0.1 * (i % 2), 0.0, 0.0]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    pdf = pca_project(df, k=2).toPandas().sort_values("vec_id")
    import numpy as np

    xs = np.arange(40) - 19.5
    got = pdf["pc1_r"].to_numpy()
    assert np.allclose(np.abs(got), np.abs(xs), atol=0.2)


# ------------------------------------------------------------ wilson ci
def test_wilson_ci_hand_values(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import wilson_ci_rates

    df = spark.createDataFrame(
        [("g", True)] * 8 + [("g", False)] * 2, "grp STRING, f BOOLEAN"
    )
    out = wilson_ci_rates(df, "grp", "f").collect()[0]
    # wilson for p=0.8, n=10, z=1.96: center=(0.8+0.192)/1.384
    z2 = 1.96 * 1.96
    den = 1 + z2 / 10
    center = (0.8 + z2 / 20) / den
    half = 1.96 * ((0.8 * 0.2 / 10 + z2 / 400) ** 0.5) / den
    assert out["rate_r"] == 0.8
    assert out["ci_lo_r"] == pytest.approx(center - half, abs=1e-6)
    assert out["ci_hi_r"] == pytest.approx(center + half, abs=1e-6)
    # wilson never leaves [0, 1], even at extreme rates
    ext = spark.createDataFrame([("g", True)] * 5, "grp STRING, f BOOLEAN")
    row = wilson_ci_rates(ext, "grp", "f").collect()[0]
    assert 0.0 <= row["ci_lo_r"] < 1.0 and row["ci_hi_r"] <= 1.0


# -------------------------------------------------------------- keyness
def test_keyness_finds_planted_term(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.text import keyness_llr

    target = [(i, True, "quantum flux common word filler") for i in range(10)]
    rest = [(100 + i, False, "ordinary common word filler text") for i in range(10)]
    df = spark.createDataFrame(
        target + rest, "doc_id LONG, tg BOOLEAN, text STRING"
    )
    pdf = keyness_llr(df, "tg", min_count=5, top=10).toPandas()
    top = pdf.iloc[0]
    assert top["token"] in ("quantum", "flux")
    assert top["n_target"] == 10 and top["n_rest"] == 0 and top["g2_r"] > 0
    # balanced terms score ~0; rest-only terms score negative
    common = pdf.set_index("token")
    assert abs(common.loc["common", "g2_r"]) < 1.0


def test_keyness_sign_direction(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.text import keyness_llr

    df = spark.createDataFrame(
        [(1, True, "aa " * 10), (2, False, "bb " * 10)],
        "doc_id LONG, tg BOOLEAN, text STRING",
    )
    pdf = keyness_llr(df, "tg", min_count=5, top=10).toPandas().set_index("token")
    assert pdf.loc["aa", "g2_r"] > 0 and pdf.loc["bb", "g2_r"] < 0


# ------------------------------------------------------ mantel-haenszel
def test_mantel_haenszel_simpsons_paradox(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import (
        mantel_haenszel_or,
    )

    # within each stratum exposure does nothing (OR = 1), but exposure
    # concentrates in the high-outcome stratum -> crude OR > 1
    rows = []
    #     stratum "hi": outcome rate 0.8 regardless; mostly exposed
    rows += [("hi", True, True)] * 32 + [("hi", True, False)] * 8
    rows += [("hi", False, True)] * 8 + [("hi", False, False)] * 2
    #     stratum "lo": outcome rate 0.2 regardless; mostly unexposed
    rows += [("lo", True, True)] * 2 + [("lo", True, False)] * 8
    rows += [("lo", False, True)] * 8 + [("lo", False, False)] * 32
    df = spark.createDataFrame(rows, "s STRING, e BOOLEAN, o BOOLEAN")
    out = mantel_haenszel_or(df, "s", "e", "o").collect()[0]
    assert out["k_strata"] == 2
    assert out["or_mh_r"] == pytest.approx(1.0, abs=1e-6)
    assert out["or_crude_r"] > 2.0  # confounded crude estimate


# -------------------------------------------------------------- theil-sen
def test_theil_sen_recovers_planted_trend(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import theil_sen_slope

    import datetime

    # counts = 10 + 3*day, with one wild outlier day that OLS would chase
    rows = []
    for day in range(15):
        d = datetime.datetime(2024, 3, 1) + datetime.timedelta(days=day)
        cnt = 10 + 3 * day if day != 7 else 500
        rows += [(d,)] * cnt
    df = spark.createDataFrame(rows, "ts TIMESTAMP")
    out = theil_sen_slope(df).collect()[0]
    assert out["n_days"] == 15
    assert out["n_pairs"] == 15 * 14 // 2
    assert out["slope_r"] == pytest.approx(3.0, abs=0.5)  # outlier-robust


def test_rmst_all_censored_cohort(spark):
    """A cohort with zero events must release rmst = tau (S = 1
    throughout), not collapse to an empty relation — the review-caught
    edge case."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import rmst

    df = spark.createDataFrame(
        [(3.0, 0), (9.0, 0), (20.0, 0)], "duration DOUBLE, event INT"
    )
    out = rmst(df, tau=7.0).collect()
    assert len(out) == 1
    assert out[0]["rmst_r"] == pytest.approx(7.0, abs=1e-9)
    assert out[0]["n_events_used"] == 0


def test_hits_empty_edges(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.graph import hits_int

    empty = spark.createDataFrame([], "src LONG, dst LONG")
    assert hits_int(empty).count() == 0


def test_hll_ignores_nulls(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.sketch import hll_distinct

    with_nulls = spark.createDataFrame(
        [(i,) for i in range(200)] + [(None,)] * 50, "k LONG"
    )
    without = spark.createDataFrame([(i,) for i in range(200)], "k LONG")
    a = hll_distinct(with_nulls, "k").collect()[0]
    b = hll_distinct(without, "k").collect()[0]
    assert a["est_r"] == b["est_r"] and a["n_nonempty"] == b["n_nonempty"]
    assert a["n_exact"] == 200


# -------------------------------------------------------------------- qini
def test_qini_positive_uplift(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import qini_curve

    # treated users convert at 100%, controls never: strong uplift
    rows = []
    eid = 0
    for u in range(20):
        rows.append((u, "2024-01-01 00:00:00", eid, "view", float(20 - u))); eid += 1
        if u % 2 == 0:
            rows.append((u, "2024-01-01 01:00:00", eid, "click", 0.0)); eid += 1
            rows.append((u, "2024-01-01 02:00:00", eid, "purchase", 0.0)); eid += 1
    df = spark.createDataFrame(
        rows, "user_id LONG, ts STRING, event_id LONG, event_type STRING, value DOUBLE"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    pdf = qini_curve(df).toPandas()
    assert len(pdf) == 10
    last = pdf.iloc[-1]
    assert last["n_t_cum"] == 10 and last["n_c_cum"] == 10
    assert last["conv_t_cum"] == 10 and last["conv_c_cum"] == 0
    assert last["qini_r"] == pytest.approx(10.0, abs=1e-9)
    # cumulative counts are monotone
    assert pdf["n_t_cum"].is_monotonic_increasing
    assert pdf["qini_r"].dropna().is_monotonic_increasing


# ---------------------------------------------------------- overdispersion
def test_overdispersion_burstiness_detected(spark):
    import datetime

    from dbms_data_anonymity_differential_privacy_spark.operators.stats import (
        overdispersion_check,
    )

    rows = []
    # 'steady': 5 per day; 'bursty': alternating 1 and 19 (same mean 10)
    for day in range(10):
        d = datetime.datetime(2024, 5, 1) + datetime.timedelta(days=day)
        rows += [(d, "steady")] * 5
        rows += [(d, "bursty")] * (1 if day % 2 else 19)
    df = spark.createDataFrame(rows, "ts TIMESTAMP, event_type STRING")
    pdf = overdispersion_check(df).toPandas().set_index("event_type")
    assert pdf.loc["steady", "dispersion_r"] == 0.0  # constant counts
    assert pdf.loc["bursty", "dispersion_r"] > 5.0
    assert pdf.loc["bursty", "var_r"] == pytest.approx(90.0, abs=1e-6)
    assert pdf.loc["bursty", "chi2_r"] == pytest.approx(9 * 9.0, abs=1e-4)


# ---------------------------------------------------------------- friedman
def test_friedman_consistent_ordering_vs_shuffled(spark):
    import datetime

    from dbms_data_anonymity_differential_privacy_spark.operators.stats import friedman_test

    rows = []
    # 8 days where A < B < C consistently -> large Q
    for day in range(8):
        d = datetime.datetime(2024, 6, 1) + datetime.timedelta(days=day)
        rows += [(d, "A")] * (5 + day) + [(d, "B")] * (20 + day) + [(d, "C")] * (40 + day)
    df = spark.createDataFrame(rows, "ts TIMESTAMP, event_type STRING")
    out = friedman_test(df).collect()[0]
    assert out["n_blocks"] == 8 and out["k"] == 3
    # perfectly consistent ranks: Q = 12n/(k(k+1)) * sum((rj - mean)^2)/n... max = n*(k-1)*... for k=3, Q = 2n = 16
    assert out["q_r"] == pytest.approx(16.0, abs=1e-6)


def test_friedman_excludes_incomplete_blocks(spark):
    import datetime

    from dbms_data_anonymity_differential_privacy_spark.operators.stats import friedman_test

    rows = []
    for day in range(4):
        d = datetime.datetime(2024, 6, 1) + datetime.timedelta(days=day)
        rows += [(d, "A")] * 3 + [(d, "B")] * 5
    # one extra day with only A: incomplete, must be dropped
    rows += [(datetime.datetime(2024, 6, 9), "A")] * 2
    df = spark.createDataFrame(rows, "ts TIMESTAMP, event_type STRING")
    out = friedman_test(df).collect()[0]
    assert out["n_blocks"] == 4


# -------------------------------------------------------------------- tost
def test_tost_equivalent_rates(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import tost_equivalence

    # both cohorts at 50% over n=1000 each: clearly within ±5 points
    rows = [(0, i % 2) for i in range(1000)] + [(1, (i + 1) % 2) for i in range(1000)]
    df = spark.createDataFrame(rows, "g INT, f INT")
    out = tost_equivalence(df, "g", "f", margin=0.05).collect()[0]
    assert out["equivalent"] is True
    assert out["diff_r"] == 0.0
    assert out["z_lower_r"] > 1.645 and out["z_upper_r"] > 1.645


def test_tost_not_equivalent_when_gap_exceeds_margin(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import tost_equivalence

    rows = [(0, 1)] * 600 + [(0, 0)] * 400 + [(1, 1)] * 400 + [(1, 0)] * 600
    df = spark.createDataFrame(rows, "g INT, f INT")
    out = tost_equivalence(df, "g", "f", margin=0.05).collect()[0]
    assert out["equivalent"] is False  # 20-point gap >> 5-point margin
    assert out["diff_r"] == pytest.approx(0.2, abs=1e-9)


def test_tost_degenerate_rates_never_equivalent(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import tost_equivalence

    df = spark.createDataFrame([(0, 1)] * 10 + [(1, 1)] * 10, "g INT, f INT")
    out = tost_equivalence(df, "g", "f").collect()[0]
    assert out["z_lower_r"] is None and out["equivalent"] is False


# ------------------------------------------------------- dp consistency
def test_dp_consistent_invariants(spark, sf001):
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import (
        dp_histogram_consistent,
    )
    from dbms_data_anonymity_differential_privacy_spark.sources.readers import load_table

    li = load_table(spark, sf001, "lineitem")
    out = dp_histogram_consistent(
        li, ["l_returnflag", "l_linestatus"], epsilon=1.0, seed=42,
        release="t_consistent_a",
    )
    pdf = out.toPandas()
    # non-negativity and exact-total consistency
    assert (pdf["count_dp_consistent"] >= 0).all()
    # determinism across repartitionings (seeded noise is layout-free)
    pdf2 = dp_histogram_consistent(
        li.repartition(7), ["l_returnflag", "l_linestatus"], epsilon=1.0,
        seed=42, release="t_consistent_a",
    ).toPandas()
    a = pdf.sort_values(["l_returnflag", "l_linestatus"]).reset_index(drop=True)
    b = pdf2.sort_values(["l_returnflag", "l_linestatus"]).reset_index(drop=True)
    assert (a["count_dp_consistent"] == b["count_dp_consistent"]).all()
    # the published integers stay close to the exact histogram at eps=1
    rel = (pdf["count_dp_consistent"] - pdf["count_exact"]).abs() / pdf[
        "count_exact"
    ].clip(lower=1)
    assert rel.max() < 0.05


def test_dp_consistent_total_matches_released_total(spark, sf001):
    import math

    from dbms_data_anonymity_differential_privacy_spark.operators.dp import (
        dp_histogram_consistent,
    )
    from dbms_data_anonymity_differential_privacy_spark.sources.readers import load_table

    li = load_table(spark, sf001, "lineitem")
    pdf = dp_histogram_consistent(
        li, ["l_returnflag"], epsilon=2.0, seed=7, release="t_consistent_b"
    ).toPandas()
    total = int(pdf["count_dp_consistent"].sum())
    # the cells sum to ONE integer (the rounded DP total) — jointly
    # coherent, unlike the raw noisy cells
    raw_sum = pdf["count_dp_raw"].sum()
    assert abs(total - raw_sum) < len(pdf) + abs(raw_sum) * 0.02 + 5
    assert total == pdf["count_dp_consistent"].sum()  # ints, no float drift
