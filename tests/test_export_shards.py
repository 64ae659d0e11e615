"""X47 — deterministic shard assignment.
X46 — user-level DP distinct counts (dp_count_distinct_users)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbms_data_anonymity_differential_privacy_spark.operators.dp import (
    PrivacyBudget,
    dp_count_distinct_users,
)
from dbms_data_anonymity_differential_privacy_spark.operators.sampling import assign_shards


@pytest.fixture(scope="module")
def docs(spark, sf001):
    return spark.read.parquet(f"{sf001}/documents.parquet")


def test_shards_in_range_and_near_uniform(docs):
    out = assign_shards(docs, ["doc_id"], 8, salt="t")
    sizes = {r["shard"]: r["cnt"] for r in out.groupBy("shard").agg(F.count("*").alias("cnt")).collect()}
    assert set(sizes) == set(range(8))
    n = sum(sizes.values())
    for s in sizes.values():
        assert abs(s - n / 8) < 0.25 * n / 8  # near-uniform on 500 docs


def test_shard_assignment_layout_independent(docs):
    a = assign_shards(docs, ["doc_id"], 8, salt="t").select("doc_id", "shard", "sort_key")
    b = assign_shards(docs.repartition(13), ["doc_id"], 8, salt="t").select(
        "doc_id", "shard", "sort_key"
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_shard_assignment_is_append_stable(docs):
    full = assign_shards(docs, ["doc_id"], 8, salt="t").select("doc_id", "shard")
    half = assign_shards(docs.filter(F.col("doc_id") < 250), ["doc_id"], 8, salt="t").select(
        "doc_id", "shard"
    )
    joined = full.join(half, "doc_id", "inner").filter(full["shard"] != half["shard"])
    assert joined.count() == 0


def test_assign_shards_is_map_only(docs):
    plan = assign_shards(docs, ["doc_id"], 8)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_n_shards_validated(docs):
    with pytest.raises(ValueError):
        assign_shards(docs, ["doc_id"], 0)
    with pytest.raises(ValueError):
        assign_shards(docs, ["doc_id"], (1 << 20) + 1)


# ---------------------------------------------------------------- X46 ----


@pytest.fixture(scope="module")
def events(spark, sf001):
    return spark.read.parquet(f"{sf001}/events.parquet")


def test_distinct_exact_matches_count_distinct_when_uncapped(events):
    n_types = events.select("event_type").distinct().count()
    out = dp_count_distinct_users(
        events, ["event_type"], "user_id", epsilon=1.0, max_groups=n_types, release="t-uncapped"
    )
    expect = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    got = {r["event_type"]: r["n_users_exact"] for r in out.collect()}
    assert got == expect


def test_group_cap_enforced(events):
    out = dp_count_distinct_users(
        events, ["event_type"], "user_id", epsilon=1.0, max_groups=1, release="t-cap"
    )
    total = sum(r["n_users_exact"] for r in out.collect())
    n_users = events.select("user_id").distinct().count()
    assert total == n_users  # each user counted in exactly one group


def test_noise_deterministic_and_scaled(events):
    a = dp_count_distinct_users(
        events, ["event_type"], "user_id", epsilon=1.0, max_groups=2, release="t-det"
    ).collect()
    b = dp_count_distinct_users(
        events, ["event_type"], "user_id", epsilon=1.0, max_groups=2, release="t-det"
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # huge epsilon -> noise vanishes
    hi = dp_count_distinct_users(
        events, ["event_type"], "user_id", epsilon=1e9, max_groups=2, release="t-hi"
    ).collect()
    for r in hi:
        assert abs(r["n_users_dp"] - r["n_users_exact"]) < 1e-3


def test_budget_spend_and_validation(events):
    budget = PrivacyBudget(total_epsilon=1.0)
    dp_count_distinct_users(
        events, ["event_type"], "user_id", epsilon=0.5, max_groups=2, budget=budget
    ).collect()
    assert budget.spent == pytest.approx(0.5)
    with pytest.raises(ValueError):
        dp_count_distinct_users(events, ["event_type"], "user_id", epsilon=0.0, release="x")
    with pytest.raises(ValueError):
        dp_count_distinct_users(
            events, ["event_type"], "user_id", epsilon=1.0, max_groups=0, release="x"
        )


# ------------------------------------------------------- snapshot diff ----


def test_snapshot_diff_statuses(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.snapshot import (
        snapshot_diff,
        snapshot_diff_summary,
    )

    old = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma"), (4, "delta")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(2, "beta"), (3, "gamma EDITED"), (4, "  DELTA  "), (5, "new doc")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["status"] for r in snapshot_diff(old, new).collect()}
    # 4: whitespace/case-only edit -> fingerprint-identical -> unchanged
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "unchanged", 5: "added"}
    summary = {r["status"]: r["n_docs"] for r in snapshot_diff_summary(old, new).collect()}
    assert summary == {"removed": 1, "unchanged": 2, "changed": 1, "added": 1}


def test_snapshot_diff_shuffles_fingerprints_not_bodies(spark, sf001):
    from dbms_data_anonymity_differential_privacy_spark.operators.snapshot import snapshot_diff

    docs = spark.read.parquet(f"{sf001}/documents.parquet")
    plan = snapshot_diff(docs, docs)._jdf.queryExecution().executedPlan().toString()
    # every shuffle of the diff must carry (doc_id, md5-fingerprint)
    # projections, never the document body: the md5 Project sits BELOW each
    # Exchange (map side), so only 40-byte identity records cross the wire
    lines = plan.splitlines()
    exchanges = [i for i, l in enumerate(lines) if "Exchange hashpartitioning(doc_id" in l]
    assert exchanges, plan
    for i in exchanges:
        below = "\n".join(lines[i : i + 3])
        assert "md5" in below, below
