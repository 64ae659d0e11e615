"""The t-closeness release and operators built from one collected
(class, sensitive value, count) table: the release's Spark job budget, the
perfbench-shaped metrics row, EMD edge cases against the Spark expression
chain the driver fold replaced, the tuple-limit guard and verdicts at the
rounding boundary."""

from __future__ import annotations

import contextlib
import math

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbms_data_anonymity_differential_privacy_spark import pipelines
from dbms_data_anonymity_differential_privacy_spark.operators import clustering as cl
from dbms_data_anonymity_differential_privacy_spark.operators import kanonymity as ka
from dbms_data_anonymity_differential_privacy_spark.operators import tcloseness as tc
from dbms_data_anonymity_differential_privacy_spark.sources.writers import write_release
from perfbench import gen

CENSUS_QI = ["age", "sex", "race", "education"]
# t_violations over the 50k census (seed 7, 8 shuffle partitions) ran this
# many jobs when its EMD was a Spark expression chain over persisted counts
CHAIN_T_VIOLATIONS_JOBS = 9


@contextlib.contextmanager
def _job_group(spark, name):
    """Collects the ids of the Spark jobs run inside the block."""
    sc = spark.sparkContext
    ids: list[int] = []
    sc.setJobGroup(name, name)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(name))


@pytest.fixture(scope="module")
def census(tmp_path_factory):
    """perfbench's 50k-row census, seed 7."""
    path = str(tmp_path_factory.mktemp("census") / "census")
    gen.write_census(7, 50_000, path)
    return path


# ---------------------------------------------------------------------------
# Oracle: the Spark-side EMD the driver fold replaced, kept verbatim in its
# arithmetic (global distribution collected, per-class map, literal chain)
# ---------------------------------------------------------------------------


def _chain_emd(counts: DataFrame, qi, sensitive) -> DataFrame:
    nn = counts.where(F.col(sensitive).isNotNull())
    gd = nn.groupBy(sensitive).agg(F.sum("__cnt").alias("__g")).orderBy(sensitive).collect()
    if not gd:
        return counts.where(F.lit(False)).select(*qi, F.lit(0.0).cast("double").alias("emd"))
    total = sum(r["__g"] for r in gd)
    support = [r[sensitive] for r in gd]
    pg = [r["__g"] / total for r in gd]
    entry = F.when(
        F.col(sensitive).isNotNull(),
        F.struct(F.col(sensitive).alias("k"), F.col("__cnt").alias("v")),
    )
    per_class = counts.groupBy(*qi).agg(
        F.map_from_entries(F.collect_list(entry)).alias("__m"),
        F.sum(F.when(F.col(sensitive).isNotNull(), F.col("__cnt"))).alias("__tot"),
    )
    cum = chain = None
    for j in range(len(support)):
        p_j = F.coalesce(F.col("__m")[F.lit(support[j])], F.lit(0)) / F.col("__tot")
        d_j = p_j - F.lit(pg[j])
        cum = d_j if cum is None else cum + d_j
        if j < len(support) - 1:
            chain = F.abs(cum) if chain is None else chain + F.abs(cum)
    emd = (
        F.lit(0.0)
        if chain is None
        else F.when(F.col("__tot").isNotNull(), chain).otherwise(F.lit(0.0))
    )
    return per_class.select(*qi, F.round(emd, 9).alias("emd"))


def _counts(df, qi, sensitive):
    return df.groupBy(*qi, sensitive).agg(F.count(F.lit(1)).alias("__cnt"))


def _oracle_filter(df, qi, sensitive, k, t):
    counts = _counts(df, qi, sensitive)
    sizes = counts.groupBy(*qi).agg(F.sum("__cnt").alias("__size"))
    big = sizes.filter(F.col("__size") >= k).select(*qi)
    kcounts = counts.join(big, on=list(qi), how="left_semi")
    ok = _chain_emd(kcounts, qi, sensitive).filter(F.col("emd") <= F.lit(t)).select(*qi)
    return df.join(ok, on=list(qi), how="left_semi")


def _oracle_violations(df, qi, sensitive, t):
    emd = _chain_emd(_counts(df, qi, sensitive), qi, sensitive)
    violated = F.sum(F.when(F.col("emd") > t, 1).otherwise(0))
    return emd.agg(
        violated.alias("violations"),
        F.count(F.lit(1)).alias("total_groups"),
        F.round(violated / F.count(F.lit(1)), 9).alias("violation_rate"),
    )


def _key(v):
    """A sortable, NaN-safe stand-in for a collected value."""
    return ("nan",) if isinstance(v, float) and math.isnan(v) else (repr(type(v)), repr(v))


def _rows(df):
    return sorted(tuple(_key(v) for v in r) for r in df.collect())


def _assert_matches_chain(df, qi, sensitive, k, t):
    got_emd, want_emd = _rows(tc.class_emd(df, qi, sensitive)), _rows(
        _chain_emd(_counts(df, qi, sensitive), qi, sensitive)
    )
    assert got_emd == want_emd
    assert _rows(tc.t_violations(df, qi, sensitive, t)) == _rows(
        _oracle_violations(df, qi, sensitive, t)
    )
    got = tc.t_closeness_filter(df, qi, sensitive, k=k, t=t)
    want = _oracle_filter(df, qi, sensitive, k, t)
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)
    return tc.class_emd(df, qi, sensitive), got


# ---------------------------------------------------------------------------
# Jobs and the pinned release
# ---------------------------------------------------------------------------


def test_release_job_budget(spark, census, tmp_path):
    """A t-closeness release — pipeline, write, metrics collect — runs at
    most 6 Spark jobs: the edge aggregation, the class-table aggregation
    and the write; collecting the metrics row runs none."""
    df = spark.read.parquet(census)
    with _job_group(spark, "tclose-build") as build:
        out = pipelines.t_closeness_pipeline(df, CENSUS_QI, "income", 5, 0.2, {"age": 10})
    with _job_group(spark, "tclose-write") as write:
        write_release(out["anonymized"], str(tmp_path / "rel"))
    with _job_group(spark, "tclose-collect") as collect:
        out["metrics"].collect()
    assert len(collect) == 0
    assert len(build) + len(write) + len(collect) <= 6, (len(build), len(write))


def test_t_violations_runs_fewer_jobs(spark, census):
    """One collected aggregation instead of the expression chain's
    persisted counts, collected distribution and per-class aggregation."""
    df = spark.read.parquet(census)
    with _job_group(spark, "tclose-violations") as jobs:
        tc.t_violations(df, ["sex", "race", "region"], "income", 0.2).collect()
    assert 0 < len(jobs) < CHAIN_T_VIOLATIONS_JOBS, len(jobs)


def test_census_release_metrics_pinned(spark, census, tmp_path):
    """The seed-7 perfbench-shaped release: the metrics row and the rows
    written, exactly."""
    df = spark.read.parquet(census)
    out = pipelines.t_closeness_pipeline(df, CENSUS_QI, "income", 5, 0.2, {"age": 10})
    write_release(out["anonymized"], str(tmp_path / "rel"))
    assert spark.read.parquet(str(tmp_path / "rel")).count() == 46_128
    assert out["metrics"].collect()[0].asDict() == {
        "n_orig": 50_000,
        "n_anon": 46_128,
        "suppression_rate": 0.07744,
        "uniqueness_rate": 0.0,
        "ncp": 0.0,
        "violations": 17,
        "total_groups": 457,
        "violation_rate": 0.037199125,
    }


# ---------------------------------------------------------------------------
# EMD edge cases, each against the Spark chain
# ---------------------------------------------------------------------------


def test_null_sensitive_rows(spark):
    rows = [("g1", s) for s in ["a", "b", None, "a", None, "c"]] + [
        ("g2", s) for s in ["a", "a", "b", "b", "c", None]
    ] + [("g3", s) for s in ["c", "c", "c", "a", "b", "b"]]
    df = spark.createDataFrame(rows, "g string, s string")
    _assert_matches_chain(df, ["g"], "s", k=5, t=0.3)


def test_all_null_sensitive_class_gets_zero(spark):
    rows = [("g1", None)] * 6 + [("g2", s) for s in ["a", "b", "a", "b", "b", "a"]] + [
        ("g3", s) for s in ["a", "a", "a", "a", "a", "b"]
    ]
    df = spark.createDataFrame(rows, "g string, s string")
    emd, _ = _assert_matches_chain(df, ["g"], "s", k=5, t=0.2)
    assert {r.g: r.emd for r in emd.collect()}["g1"] == 0.0


def test_support_of_one_value(spark):
    rows = [("g1", "a")] * 5 + [("g2", "a")] * 7 + [("g3", None), ("g3", "a")]
    df = spark.createDataFrame(rows, "g string, s string")
    emd, kept = _assert_matches_chain(df, ["g"], "s", k=5, t=0.0)
    assert {r.emd for r in emd.collect()} == {0.0}
    assert kept.count() == 12


def test_null_qi_rows_are_dropped(spark):
    rows = (
        [("g1", 1, s) for s in "aabbc"]
        + [(None, 1, s) for s in "aaabb"]
        + [("g2", None, s) for s in "abcab"]
        + [("g2", 2, s) for s in "cccab"]
    )
    df = spark.createDataFrame(rows, "g string, h int, s string")
    emd, kept = _assert_matches_chain(df, ["g", "h"], "s", k=5, t=1.0)
    assert len(emd.collect()) == 4  # NULL-QI classes have an EMD ...
    assert kept.where(F.col("g").isNull() | F.col("h").isNull()).count() == 0  # ... but never pass
    ref = tc.t_closeness_filter(df, ["g", "h"], "s", k=5, mode="reference")
    assert ref.count() == 10


def test_no_non_null_sensitive_value(spark):
    df = spark.createDataFrame([("g1", None)] * 6 + [("g2", None)] * 5, "g string, s string")
    emd, kept = _assert_matches_chain(df, ["g"], "s", k=5, t=0.5)
    assert emd.count() == 0 and kept.count() == 0
    assert tc.t_violations(df, ["g"], "s", 0.5).collect()[0].asDict() == {
        "violations": None, "total_groups": 0, "violation_rate": None,
    }


def test_non_ascii_string_support_in_spark_order(spark):
    values = ["é", "z", "a", "Ω", "ß", "日本", "Z", "é", "😀", ""]
    rows = [(f"g{i % 4}", values[(i * 7 + i // 4) % len(values)]) for i in range(120)]
    df = spark.createDataFrame(rows, "g string, s string")
    _assert_matches_chain(df, ["g"], "s", k=5, t=0.4)


def test_nan_in_double_support_in_spark_order(spark):
    values = [1.0, float("nan"), float("-inf"), 2.5, 0.0, -0.0, float("inf"), -3.25]
    rows = [(i % 3, values[(i * 5 + i // 3) % len(values)]) for i in range(96)]
    rows += [(3, float("nan"))] * 5  # a class whose only value is NaN
    df = spark.createDataFrame(rows, "g int, s double")
    _assert_matches_chain(df, ["g"], "s", k=5, t=0.5)
    # a NaN QI value is a class like any other, and its rows pass the filter
    nan_qi = spark.createDataFrame(
        [(float("nan"), s) for s in "aabb"] + [(1.0, s) for s in "abab"] + [(2.0, "a")] * 4,
        "g double, s string",
    )
    _, kept = _assert_matches_chain(nan_qi, ["g"], "s", k=4, t=0.25)
    assert kept.where(F.isnan("g")).count() == 4


def test_wide_support(spark):
    """20 000 distinct sensitive values: the fold has no expression to
    grow (a literal chain this long overflowed the JVM stack). Two classes
    split the sorted support in halves; each class CDF runs ahead of the
    uniform global one by (p+1)/20000, then behind by 1-(p+1)/20000, so
    EMD = (10000*10001/2 + 9999*10000/2) / 20000 = 5000."""
    n = 20_000
    df = spark.createDataFrame([(i * 2 // n, float(i)) for i in range(n)], "g int, s double")
    emd = {r.g: r.emd for r in tc.class_emd(df, ["g"], "s").collect()}
    assert emd == pytest.approx({0: 5000.0, 1: 5000.0}, abs=1e-6)
    assert tc.t_violations(df, ["g"], "s", 4999.0).collect()[0].violations == 2


def test_timestamp_qi_keys_in_any_local_time_zone(spark, monkeypatch):
    """Timestamps come back to Python as naive local times; the kept keys
    (timestamp and date) still find their rows when that zone is not UTC."""
    import time
    from datetime import datetime

    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        days = [datetime(2024, 1, d, 12, 30) for d in (1, 2, 3)]
        rows = [(days[i % 3], days[i % 3].date(), "ab"[i % 2 if i % 3 else 0]) for i in range(18)]
        df = spark.createDataFrame(rows, "ts timestamp, d date, s string")
        _, kept = _assert_matches_chain(df, ["ts", "d"], "s", k=5, t=0.6)
        assert kept.count() == 18
    finally:
        monkeypatch.undo()
        time.tzset()


# ---------------------------------------------------------------------------
# Guard and rounding
# ---------------------------------------------------------------------------


def test_tuple_limit_guard(spark, census, monkeypatch):
    """Above MAX_QI_TUPLES (class, sensitive) tuples the release refuses
    with the clustering fit's error, pointing at ``bin_spec``, and finding
    that out runs no job beyond the class-table aggregation."""
    df = spark.read.parquet(census).na.drop("any")
    cols = [*CENSUS_QI, "income"]
    with _job_group(spark, "tclose-table") as table_jobs:
        n = len(ka.collect_tuple_counts(df, cols, ""))
    monkeypatch.setattr(ka, "MAX_QI_TUPLES", n - 1)
    with _job_group(spark, "tclose-refused") as refused:
        with pytest.raises(cl.QITupleLimitError, match="bin_spec"):
            pipelines.t_closeness_pipeline(df, CENSUS_QI, "income", 5, 0.2)
    assert 0 < len(refused) <= len(table_jobs)
    with pytest.raises(cl.QITupleLimitError, match="bin the QIs"):
        tc.t_violations(df, CENSUS_QI, "income", 0.2)
    assert cl.MAX_QI_TUPLES == 1_000_000  # the clustering fit's own limit


def test_verdict_at_the_rounding_boundary(spark):
    """EMD 0.8 - 0.7 is 0.10000000000000009 in doubles, within 1e-12 of
    t = 0.1 but above it: Spark's ROUND(…, 9) gives 0.1, so the class
    passes and counts as no violation, as SQL has it."""
    rows = [("g1", s) for s in "aaaaaaaabb"] + [("g2", s) for s in "aaaaaabbbb"]
    df = spark.createDataFrame(rows, "g string, s string")
    table = tc.ClassTable(df, ["g"], "s", "")
    raw = dict(zip(table.size, table.emd(list(table.size))))
    assert 0 < raw[("g1",)] - 0.1 < 1e-12
    _, kept = _assert_matches_chain(df, ["g"], "s", k=5, t=0.1)
    assert kept.count() == 20
    assert tc.t_violations(df, ["g"], "s", 0.1).collect()[0].violations == 0
