"""C3's driver-side fit on the weighted QI-tuple table: the exact-coreset
property, determinism under repartitioning, encoding parity with the
oracle-checked ``encode_scale`` prefix, NULL handling, the tuple-limit
guard, the metrics row and the release's Spark job budget."""

from __future__ import annotations

import contextlib
import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F

from dbms_data_anonymity_differential_privacy_spark import pipelines
from dbms_data_anonymity_differential_privacy_spark.operators import clustering as cl
from dbms_data_anonymity_differential_privacy_spark.sources.readers import load_table
from dbms_data_anonymity_differential_privacy_spark.sources.writers import write_release

QI = ["c_nationkey", "c_mktsegment", "c_acctbal"]


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


def test_weighted_fit_is_exact_coreset(spark):
    """Lloyd over the distinct tuples weighted by their row counts gives
    every row the label the same routine gives it on the per-row
    expansion (weight 1 per row, rows in tuple order)."""
    rows = []
    for seg, v in itertools.product("abcd", range(0, 60, 6)):
        rows += [(seg, v)] * (1 + (v * 7 + ord(seg)) % 5)
    df = spark.createDataFrame(rows, "seg string, v long")
    for seed in (1, 7, 42):
        fit = cl.fit_clusters(df, ["seg", "v"], n_clusters=4, seed=seed)
        assert fit.weight.sum() == len(rows) and (fit.weight > 1).any()
        raw = cl._encode(fit.keys, {"seg"})
        per_row = cl._weighted_kmeans(
            np.repeat(raw, fit.weight, axis=0), np.ones(len(rows), dtype=np.int64), 4, seed
        )
        assert np.array_equal(per_row, np.repeat(fit.label, fit.weight)), seed


def test_labels_independent_of_partitioning(spark, sf001):
    """Same seed → same label per row whatever the shuffle partitions or
    the input's partitioning."""

    def labels(df):
        got = cl.cluster_assign(df, QI, n_clusters=5, seed=42)
        return {r.c_custkey: r.cluster for r in got.select("c_custkey", "cluster").collect()}

    c = load_table(spark, sf001, "customer")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        one = labels(c)
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        eight = labels(c)
        repart = labels(c.repartition(7))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert len(one) == c.count()
    assert one == eight == repart


def test_driver_encoding_matches_encode_scale(spark, sf001):
    """The tuple features the fit clusters on are, row for row,
    ``encode_scale``'s DuckDB-checked ``*_idx`` / ``*_scaled_r`` values."""
    c = load_table(spark, sf001, "customer")
    fit = cl.fit_clusters(c, QI, n_clusters=10, seed=42)
    raw = cl._encode(fit.keys, {"c_mktsegment"})
    scaled = cl._standardize(raw, fit.weight)
    at = {tuple(k): i for i, k in enumerate(fit.keys.itertuples(index=False))}
    tuple_of = {r.c_custkey: at[tuple(r[q] for q in QI)] for r in c.collect()}

    ref = cl.encode_scale(
        c, QI, id_col="c_custkey", money_cols=("c_acctbal",), round_to=15
    ).collect()
    assert len(ref) == len(tuple_of)
    for r in ref:
        i = tuple_of[r.c_custkey]
        assert raw[i, 1] == r.c_mktsegment_idx
        for j, q in enumerate(QI):
            assert scaled[i, j] == pytest.approx(r[f"{q}_scaled_r"], rel=1e-9, abs=1e-12)


def test_null_string_qi_gets_own_index_and_rows_written(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "b", 10), (2, None, 20), (3, "a", 30), (4, None, 20), (5, "a", 30), (6, "c", 40)],
        "id long, seg string, v long",
    )
    fit = cl.fit_clusters(df, ["seg", "v"], n_clusters=4, seed=42)
    raw = cl._encode(fit.keys, {"seg"})
    # three labels a < b < c, so NULL is index 3 (StringIndexer keep)
    null_at = fit.keys["seg"].isna().to_numpy()
    assert raw[null_at, 0].tolist() == [3.0] and raw[~null_at, 0].tolist() == [0.0, 1.0, 2.0]

    write_release(fit.clustered(), str(tmp_path / "rel"))
    got = {r.id: r.cluster for r in spark.read.parquet(str(tmp_path / "rel")).collect()}
    assert sorted(got) == [1, 2, 3, 4, 5, 6]
    # four distinct tuples, four clusters: the NULL tuple is one of its own
    assert got[2] == got[4]
    assert got[2] not in {got[i] for i in (1, 3, 5, 6)}


def test_null_numeric_qi_raises(spark):
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", None), (3, "a", 30)], "id long, seg string, v long"
    )
    with pytest.raises(cl.NullQIError, match="'v'"):
        cl.cluster_assign(df, ["seg", "v"], n_clusters=2)
    assert issubclass(cl.NullQIError, ValueError)


def test_tuple_limit_guard_adds_no_job(spark, sf001, monkeypatch):
    """Above MAX_QI_TUPLES distinct tuples the fit refuses with a named
    error, and finding that out runs no job beyond the tuple aggregation
    every fit runs."""
    c = load_table(spark, sf001, "customer")
    with _job_group(spark, "clustering-fit-ok") as ok_jobs:
        cl.fit_clusters(c, QI, n_clusters=10, seed=42)
    monkeypatch.setattr(cl, "MAX_QI_TUPLES", 100)
    with _job_group(spark, "clustering-fit-refused") as refused_jobs:
        with pytest.raises(cl.QITupleLimitError, match="bin the QIs"):
            cl.fit_clusters(c, QI, n_clusters=10, seed=42)
    assert issubclass(cl.QITupleLimitError, ValueError)
    assert 0 < len(refused_jobs) <= len(ok_jobs)


def test_metrics_row_matches_spark_definitions(spark, sf001):
    """The driver-built metrics row equals the same definitions evaluated
    by Spark over the released rows and the generalization table."""
    from dbms_data_anonymity_differential_privacy_spark.operators.kanonymity import class_sizes
    from dbms_data_anonymity_differential_privacy_spark.operators.metrics import ncp

    c = load_table(spark, sf001, "customer")
    k, n_clusters = 150, 10
    out = pipelines.clustering_pipeline(c, QI, n_clusters=n_clusters, k=k, seed=42)
    size = F.col("class_size")
    n_rows = F.sum(size)
    want = (
        class_sizes(out["anonymized"], ["cluster"])
        .agg(
            (F.min(size) >= k).alias("k_satisfied"),
            F.round(F.sum(F.when(size == 1, 1).otherwise(0)) / F.lit(n_clusters), 9).alias(
                "uniqueness_rate"
            ),
            F.round(F.count(F.lit(1)) / n_rows, 9).alias("reid_risk"),
            F.round(F.sum(F.when(size < k, size).otherwise(0)) / n_rows, 9).alias(
                "suppression_rate"
            ),
        )
        .crossJoin(ncp(out["anonymized"], out["generalization"], QI))
        .first()
        .asDict()
    )
    got = out["metrics"].first().asDict()
    assert list(got) == list(want)
    assert got["k_satisfied"] == want["k_satisfied"]
    for name in ("uniqueness_rate", "reid_risk", "suppression_rate", "ncp"):
        assert got[name] == pytest.approx(want[name], abs=1e-12), name
    assert 0.0 < got["suppression_rate"] < 1.0  # k=150 splits the clusters


def test_clustering_release_job_budget(spark, sf001, tmp_path):
    """A clustering release — read, pipeline, write, metrics collect —
    runs at most 5 Spark jobs: the tuple aggregation, the write and its
    broadcast, and nothing per Lloyd iteration."""
    with _job_group(spark, "clustering-release") as jobs:
        out = pipelines.clustering_pipeline(
            load_table(spark, sf001, "customer"), QI, n_clusters=10, k=5, seed=42
        )
        write_release(out["anonymized"], str(tmp_path / "rel"))
        out["metrics"].collect()
        out["generalization"].collect()
    assert len(jobs) <= 5, len(jobs)
