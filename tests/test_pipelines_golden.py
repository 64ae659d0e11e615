"""Golden-parity tests (SURVEY §5): run the three pipeline composites on an
Adult-shaped fixture and compare every deterministic metric against an
independent pandas computation of the same metric definitions.

The fixture follows FIXTURES.md §B: seeded, skewed categoricals,
capital-gain mostly zero with a long tail, ~7% null rows, binary income.
Scaled down to 4,000 rows to keep the suite fast; the definitions are
row-count independent.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from dbms_data_anonymity_differential_privacy_spark import pipelines

QI = ["age", "workclass", "education", "marital_status", "sex", "capital_gain_k"]
K = 5


@pytest.fixture(scope="module")
def adult_pdf() -> pd.DataFrame:
    rng = np.random.default_rng(42)
    n = 4000
    pdf = pd.DataFrame(
        {
            "age": rng.integers(17, 91, n),
            "workclass": rng.choice(
                ["Private", "Self-emp", "Gov", "Other"], n, p=[0.7, 0.12, 0.13, 0.05]
            ),
            "education": rng.choice(
                ["HS-grad", "Some-college", "Bachelors", "Masters"],
                n,
                p=[0.4, 0.3, 0.2, 0.1],
            ),
            "marital_status": rng.choice(
                ["Married", "Never-married", "Divorced"], n, p=[0.5, 0.35, 0.15]
            ),
            "sex": rng.choice(["Male", "Female"], n, p=[0.67, 0.33]),
            # mostly zero with a long tail — drives heavy suppression like
            # the real capital-gain column
            "capital_gain_k": np.where(
                rng.random(n) < 0.9, 0, rng.integers(1, 50, n)
            ),
            "income": rng.choice(["<=50K", ">50K"], n, p=[0.75, 0.25]),
        }
    )
    # ~7% of rows get a null workclass to exercise the drop path
    null_rows = rng.random(n) < 0.07
    pdf.loc[null_rows, "workclass"] = None
    return pdf


@pytest.fixture(scope="module")
def adult_sdf(spark, adult_pdf):
    return spark.createDataFrame(adult_pdf).repartition(8)


def pandas_naive_metrics(pdf: pd.DataFrame, qi: list[str], k: int) -> dict:
    """Independent pandas computation of the naive-suppression metrics
    (definitions per SURVEY §2b C1/C5-C8)."""
    clean = pdf.dropna()
    sizes = clean.groupby(qi, dropna=False)[qi[0]].transform("size")
    anon = clean[sizes >= k]
    anon_sizes = anon.groupby(qi)[qi[0]].transform("size")
    class_counts = anon.groupby(qi).size()
    ncp_vals = [
        (clean[c].nunique() - anon[c].nunique()) / clean[c].nunique() for c in qi
    ]
    return {
        "n_orig": len(clean),
        "n_anon": len(anon),
        "suppression_rate": (len(clean) - len(anon)) / len(clean),
        "min_class_size": int(class_counts.min()) if len(class_counts) else 0,
        "k_satisfied": bool(len(class_counts) and class_counts.min() >= k),
        "uniqueness_rate": float((anon_sizes == 1).sum() / len(anon)),
        "reid_risk": float((1.0 / anon_sizes).mean()),
        "ncp": float(np.mean(ncp_vals)),
    }


def test_naive_pipeline_golden(adult_sdf, adult_pdf):
    got = pipelines.naive_suppression_pipeline(adult_sdf, QI, K)
    row = got["metrics"].first().asDict()
    want = pandas_naive_metrics(adult_pdf, QI, K)
    assert row["n_orig"] == want["n_orig"]
    assert row["n_anon"] == want["n_anon"]
    assert row["min_class_size"] == want["min_class_size"]
    assert row["k_satisfied"] == want["k_satisfied"]
    for key in ("suppression_rate", "uniqueness_rate", "reid_risk", "ncp"):
        assert row[key] == pytest.approx(want[key], abs=1e-8), key
    # post-condition: every surviving class has >= k members
    assert row["min_class_size"] >= K


def test_naive_pipeline_anonymized_rows_match(adult_sdf, adult_pdf):
    got = pipelines.naive_suppression_pipeline(adult_sdf, QI, K)
    clean = adult_pdf.dropna()
    sizes = clean.groupby(QI, dropna=False)[QI[0]].transform("size")
    want = clean[sizes >= K]
    have = got["anonymized"].toPandas()
    key = lambda d: d.sort_values(list(d.columns), ignore_index=True)  # noqa: E731
    pd.testing.assert_frame_equal(
        key(have[sorted(have.columns)]),
        key(want[sorted(want.columns)].reset_index(drop=True)),
        check_dtype=False,
    )


def pandas_tcloseness_metrics(
    pdf: pd.DataFrame, qi: list[str], sensitive: str, k: int, t: float
) -> dict:
    """Independent pandas computation of strict t-closeness: k-filter, then
    drop classes whose EMD (cumsum formulation over the sorted support) vs
    the post-k global distribution exceeds t."""
    clean = pdf.dropna()
    sizes = clean.groupby(qi)[qi[0]].transform("size")
    kanon = clean[sizes >= k]

    support = sorted(kanon[sensitive].unique())
    gprobs = (
        kanon[sensitive].value_counts(normalize=True).reindex(support, fill_value=0.0)
    )

    def emd(group: pd.DataFrame) -> float:
        p = (
            group[sensitive]
            .value_counts(normalize=True)
            .reindex(support, fill_value=0.0)
        )
        cum = (p - gprobs).cumsum()
        return float(cum.abs().iloc[:-1].sum())

    emds = kanon.groupby(qi).apply(emd, include_groups=False)
    ok_classes = emds[emds <= t]
    keymask = kanon.set_index(qi).index.isin(ok_classes.index)
    anon = kanon[keymask]

    # violations measured on the post-filter relation vs its own global
    support2 = sorted(anon[sensitive].unique())
    gprobs2 = (
        anon[sensitive].value_counts(normalize=True).reindex(support2, fill_value=0.0)
    )

    def emd2(group: pd.DataFrame) -> float:
        p = (
            group[sensitive]
            .value_counts(normalize=True)
            .reindex(support2, fill_value=0.0)
        )
        cum = (p - gprobs2).cumsum()
        return float(cum.abs().iloc[:-1].sum())

    emds2 = anon.groupby(qi).apply(emd2, include_groups=False)
    class_counts = anon.groupby(qi).size()
    ncp_vals = [
        (clean[c].nunique() - anon[c].nunique()) / clean[c].nunique() for c in qi
    ]
    return {
        "n_orig": len(clean),
        "n_anon": len(anon),
        "suppression_rate": (len(clean) - len(anon)) / len(clean),
        "uniqueness_rate": float((class_counts == 1).sum() / len(class_counts)),
        "ncp": float(np.mean(ncp_vals)),
        "violations": int((emds2 > t).sum()),
        "total_groups": len(emds2),
    }


def test_tcloseness_pipeline_golden(adult_sdf, adult_pdf):
    t = 0.15
    got = pipelines.t_closeness_pipeline(
        adult_sdf, QI, "income", k=K, t=t, mode="strict"
    )
    row = got["metrics"].first().asDict()
    want = pandas_tcloseness_metrics(adult_pdf.copy(), QI, "income", K, t)
    assert row["n_orig"] == want["n_orig"]
    assert row["n_anon"] == want["n_anon"]
    assert row["violations"] == want["violations"]
    assert row["total_groups"] == want["total_groups"]
    for key in ("suppression_rate", "uniqueness_rate", "ncp"):
        assert row[key] == pytest.approx(want[key], abs=1e-8), key


def test_tcloseness_pipeline_binning_path(adult_sdf):
    """bin_spec rewires the QI set: age → age_bin (5 equal-width bins) as
    the reference does (t-closeness.py:36)."""
    got = pipelines.t_closeness_pipeline(
        adult_sdf,
        QI,
        "income",
        k=K,
        t=0.2,
        bin_spec={"age": 5},
        mode="reference",
    )
    cols = got["anonymized"].columns
    assert "age_bin" in cols
    # reference mode == plain k-anonymity over the binned QI
    row = got["metrics"].first().asDict()
    assert row["n_anon"] <= row["n_orig"]
    assert row["violations"] >= 0


def test_clustering_pipeline_invariants(adult_sdf):
    """KMeans won't bit-match sklearn (SURVEY §2b C3) — assert structural
    invariants instead of golden values."""
    got = pipelines.clustering_pipeline(
        adult_sdf.na.drop("any"), QI, n_clusters=8, k=K, seed=42
    )
    gen = got["generalization"].toPandas()
    assert len(gen) == 8
    assert set(gen["cluster"]) == set(range(8))
    assert int(gen["cluster_size"].sum()) == got["anonymized"].count()
    row = got["metrics"].first().asDict()
    assert 0.0 <= row["suppression_rate"] <= 1.0
    assert 0.0 <= row["ncp"] <= 1.0
    assert 0.0 < row["reid_risk"] <= 1.0
    # rows are never removed (reference quirk, SURVEY §3.2)
    assert got["anonymized"].count() == adult_sdf.na.drop("any").count()


def test_frozen_golden_numbers(adult_sdf):
    """Frozen golden values for the deterministic fixture (seed 42), the
    offline stand-in for replicating the reference's published numbers
    (77.93% suppression / NCP 0.2532 / 38%, README.md:3) — the real UCI
    Adult file is not reachable from this container, and the pandas twin
    above could silently drift together with the engine. These constants
    were computed once from the independent pandas implementation and
    pinned; any engine change that moves a metric fails here even if it
    moves the pandas twin identically."""
    row = pipelines.naive_suppression_pipeline(adult_sdf, QI, K)["metrics"].first().asDict()
    assert row["n_orig"] == 3723
    assert row["n_anon"] == 476
    assert row["suppression_rate"] == pytest.approx(0.872146118721, abs=1e-9)
    assert row["reid_risk"] == pytest.approx(0.170168067227, abs=1e-9)
    assert row["ncp"] == pytest.approx(0.397942942943, abs=1e-9)
    assert row["min_class_size"] == 5 and row["k_satisfied"]

    trow = (
        pipelines.t_closeness_pipeline(adult_sdf, QI, "income", k=K, t=0.15, mode="strict")
        ["metrics"].first().asDict()
    )
    assert trow["n_anon"] == 339
    assert trow["suppression_rate"] == pytest.approx(0.908944399678, abs=1e-9)
    assert trow["ncp"] == pytest.approx(0.457627627628, abs=1e-9)
    assert trow["violations"] == 0 and trow["total_groups"] == 57


def test_adult_csv_end_to_end(spark, adult_pdf, tmp_path):
    """The reference's actual flow: CSV with '?' nulls → clean → anonymize
    → metrics. Exercises reader + pipeline together; null rows must be
    dropped by the pipeline exactly as pd.dropna does."""
    from dbms_data_anonymity_differential_privacy_spark.sources.readers import read_adult_csv
    from pyspark.sql import types as T

    csv = tmp_path / "adult_like.csv"
    lines = []
    for r in adult_pdf.itertuples(index=False):
        wc = "?" if r.workclass is None else r.workclass
        lines.append(
            f"{r.age}, {wc}, {r.education}, {r.marital_status}, {r.sex}, "
            f"{r.capital_gain_k}, {r.income}"
        )
    csv.write_text("\n".join(lines) + "\n")
    schema = T.StructType(
        [
            T.StructField("age", T.LongType()),
            T.StructField("workclass", T.StringType()),
            T.StructField("education", T.StringType()),
            T.StructField("marital_status", T.StringType()),
            T.StructField("sex", T.StringType()),
            T.StructField("capital_gain_k", T.LongType()),
            T.StructField("income", T.StringType()),
        ]
    )
    df = read_adult_csv(spark, str(csv), schema=schema)
    got = pipelines.naive_suppression_pipeline(df, QI, K)
    row = got["metrics"].first().asDict()
    want = pandas_naive_metrics(adult_pdf, QI, K)
    assert row["n_orig"] == want["n_orig"]
    assert row["n_anon"] == want["n_anon"]
    assert row["suppression_rate"] == pytest.approx(want["suppression_rate"], abs=1e-8)


def test_three_pipeline_readme_shape_relationships(adult_sdf):
    """End-to-end semantic invariants of the FULL three-pipeline run,
    mirroring the reference's published relationships (BASELINE.md /
    README.md:3) under the reference CONFIG (k=5, t=0.2, age 5 bins /
    capital 3 bins, 10 clusters):

    - naive suppression rate >> t-closeness suppression rate
      (77.93% vs 38% published; binning coarsens the QI so far fewer
      classes fall below k),
    - re-identification risk ordering:
      clustering (0.0003) < t-closeness < naive (0.1137).

    The golden tests above pin exact VALUES; this pins the cross-
    pipeline SHAPE, so a future regression in any composite flips a
    semantic invariant, not just a hash."""
    from dbms_data_anonymity_differential_privacy_spark.operators.metrics import reid_risk

    naive = pipelines.naive_suppression_pipeline(adult_sdf, QI, K)["metrics"].first()
    tc = pipelines.t_closeness_pipeline(
        adult_sdf,
        QI,
        "income",
        k=K,
        t=0.2,
        bin_spec={"age": 5, "capital_gain_k": 3},
        mode="strict",
    )
    trow = tc["metrics"].first()
    eff_qi = [
        "age_bin", "workclass", "education", "marital_status", "sex",
        "capital_gain_k_bin",
    ]
    t_risk = reid_risk(tc["anonymized"], eff_qi).first()["reid_risk"]
    crow = (
        pipelines.clustering_pipeline(
            adult_sdf.na.drop("any"), QI, n_clusters=10, k=K, seed=42
        )["metrics"].first()
    )

    # suppression shape: naive >> t-closeness (at least 2x apart, as in
    # the published 77.93% vs 38%)
    assert naive["suppression_rate"] > 2 * trow["suppression_rate"], (
        naive["suppression_rate"], trow["suppression_rate"],
    )
    # risk ordering: clustering < t-closeness < naive
    assert crow["reid_risk"] < t_risk < naive["reid_risk"], (
        crow["reid_risk"], t_risk, naive["reid_risk"],
    )
    # clustering never suppresses rows (reference quirk, SURVEY §3.2)
    assert crow["suppression_rate"] == 0.0
