"""Physical-plan quality gates (SURVEY §4).

These assert the *shape* of the plans Catalyst produces for the contract
queries — the properties that matter at 100 TB: no row-at-a-time Python
in any hot path, broadcasts for small sides, one fact-table shuffle for
the suppression flagship, column pruning reaching the parquet scan.
A regression that silently de-optimizes a plan (e.g. a lost broadcast or
an accidental Python UDF) fails here even though results stay correct.
"""

from __future__ import annotations

import re

import pytest

from dbms_data_anonymity_differential_privacy_spark import queries_registry as qr

# ML-backed queries fit a model while *building* the DataFrame — exclude
# from the sweep (their plans are MLlib-internal).
SWEEP_EXCLUDE = {
    "c10_utility_accuracy",
}


def plan_of(df, mode: str = "simple") -> str:
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


@pytest.fixture(scope="module")
def plans(spark, sf001) -> dict[str, str]:
    # Cold-cache plans: earlier test modules persist intermediates, and
    # the CacheManager substitutes any matching cached relation into new
    # plans — a gate would then assert against whatever happened to be
    # cached rather than the operator's own shape.
    spark.catalog.clearCache()
    out = {}
    for name, fn in qr.QUERIES.items():
        if name in SWEEP_EXCLUDE:
            continue
        out[name] = plan_of(fn(spark, sf001))
    return out


def test_no_row_at_a_time_python_anywhere(plans):
    """BatchEvalPython = per-row Python UDF — forbidden in every contract
    query. (ArrowEvalPython/MapInPandas are the sanctioned vectorized
    escape hatches.)"""
    offenders = [n for n, p in plans.items() if "BatchEvalPython" in p]
    assert offenders == []


def test_no_cartesian_product_anywhere(plans):
    """CartesianProduct = an unkeyed shuffled row-pair join — always a bug
    in this engine (one-row metric cross joins compile to broadcast
    nested-loop with IdentityBroadcastMode, never CartesianProduct)."""
    offenders = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert offenders == []


def _children(plan: str, node: str) -> list[str]:
    """Subtree texts of the children of the first plan line matching the
    regex ``node``, in plan order (for a BuildRight join: probe, build)."""

    def depth(line: str) -> int:
        m = re.match(r"^((?:   |:  )*)[+:]- ", line)
        return len(m.group(1)) if m else -1

    lines = plan.splitlines()
    i = next(n for n, line in enumerate(lines) if re.search(node, line))
    d = depth(lines[i])
    out: list[list[str]] = []
    for line in lines[i + 1 :]:
        if depth(line) <= d:
            break
        if depth(line) == d + 3:
            out.append([])
        out[-1].append(line)
    return ["\n".join(sub) for sub in out]


def test_flagship_single_fact_shuffle(plans):
    """c01 = bin + class-frequency agg + broadcast semi join. The plan has
    exactly ONE hash exchange — the QI-tuple aggregation — and it lives
    inside the broadcast build subtree of the semi join; the fact-side
    probe has none: fact rows reach the output without any shuffle."""
    p = plans["c01_k_anonymize_suppress"]
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1
    probe, build = _children(p, r"BroadcastHashJoin .*LeftSemi, BuildRight")
    assert build.lstrip(" :+-").startswith("BroadcastExchange HashedRelationBroadcastMode")
    assert "Exchange hashpartitioning" in build
    assert "Exchange hashpartitioning" not in probe


def test_cluster_assign_is_one_scan_broadcast_joined_to_local_tuples(plans):
    """c03: the rows get their cluster from ONE parquet scan probing the
    broadcast (QI tuple → cluster) local relation the driver-side fit
    built — no fact-side shuffle, no MLlib stage."""
    p = plans["c03_cluster_assign"]
    assert len(re.findall(r"Scan parquet|FileScan parquet", p)) == 1
    probe, build = _children(p, r"BroadcastHashJoin .*BuildRight")
    assert "LocalTableScan" in build
    assert "Exchange" not in probe


def test_naive_metrics_row_is_one_aggregation(plans):
    """pipe_naive_metrics: the whole metrics row is one aggregation over
    the persisted class-size relation — no join node above its scan, so
    per-metric one-row aggregates cross-joined together cannot grow back.
    (Below the scan sits the registry input's own binning, whose min/max
    cross join is not part of the pipeline.)"""
    p = plans["pipe_naive_metrics"]
    live, _, cached = p.partition("InMemoryTableScan")
    assert cached, "class-size relation no longer persisted"
    assert "Join" not in live and "CartesianProduct" not in live


def test_join_back_broadcasts_frequent_classes(plans):
    """p07's frequent-class relation must broadcast — a shuffle join of
    fact x class-table on a 3-col key would re-shuffle the fact table."""
    assert "BroadcastHashJoin" in plans["p07_join_back"]


def test_semi_join_broadcasts(plans):
    p = plans["p08_semi_join"]
    assert "BroadcastHashJoin" in p and "LeftSemi" in p


def test_tcloseness_filter_broadcasts_class_verdicts(plans):
    """c04 strict: the per-class EMD verdict relation is tiny and must
    broadcast back onto the fact rows."""
    p = plans["c04_t_closeness_strict"]
    assert "BroadcastHashJoin" in p and "LeftSemi" in p


def test_class_key_broadcast_hint_is_size_gated(spark, sf001):
    """The k-anonymity / t-closeness class-key joins carry no broadcast
    hint: Spark's own size threshold (plus AQE at runtime) picks the
    strategy. A key relation is worst-case rows/k keys, so a forced
    broadcast would OOM the driver at 100 TB. Gate both flavors: BHJ under
    the threshold (the module-level `plans` gates above), shuffled
    LeftSemi with autoBroadcastJoinThreshold disabled here, with result
    counts identical under both strategies."""
    from dbms_data_anonymity_differential_privacy_spark import queries_registry as qr

    spark.catalog.clearCache()
    baseline = {
        n: qr.QUERIES[n](spark, sf001).count()
        for n in ("c01_k_anonymize_suppress", "c04_t_closeness_strict")
    }
    spark.catalog.clearCache()
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name, n_rows in baseline.items():
            df = qr.QUERIES[name](spark, sf001)
            p = plan_of(df)
            # EMD internals legitimately broadcast kilobyte dimension
            # relations (support/global distribution) — the gate applies
            # to the CLASS-KEY semi joins only.
            assert not re.search(r"BroadcastHashJoin.*LeftSemi", p), (
                f"{name}: class-key semi join still broadcast with the threshold off"
            )
            assert "LeftSemi" in p, f"{name}: semi join vanished"
            assert df.count() == n_rows, f"{name}: shuffled plan changed the result"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.catalog.clearCache()


def test_map_only_ops_scan_once(plans):
    """Pure per-row feature extraction must be a single scan with no
    exchange at all — anything else means an accidental aggregation."""
    p = plans["x05_text_features"]
    assert len(re.findall(r"Scan parquet|FileScan parquet", p)) == 1
    assert "Exchange" not in p


def test_column_pruning_reaches_scan(plans):
    """x05_text_stats needs only (text, lang) — the parquet ReadSchema must
    not include doc_id/source/n_chars."""
    p = plans["x05_text_stats"]
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m, p
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"text", "lang"}


def test_predicate_pushdown_reaches_scan(spark, sf001):
    from dbms_data_anonymity_differential_privacy_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    df = load_table(spark, sf001, "customer").filter(
        F.col("c_mktsegment") == "AUTOMOBILE"
    ).select("c_custkey")
    p = plan_of(df)
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(c_mktsegment,AUTOMOBILE\)", p), p


def test_dp_noise_is_jvm_side(plans):
    """X1 DP noise must be pure JVM expressions (xxhash64 + log), never a
    Python UDF — noise generation is in the hot aggregate path."""
    for name in ("x01_dp_count", "x01_dp_sum", "x01_dp_avg"):
        assert "EvalPython" not in plans[name], name


def test_cosine_topk_is_takeordered(plans):
    """x04 top-k must compile to TakeOrderedAndProject (partial top-k per
    partition, no global sort of the scored relation)."""
    assert "TakeOrderedAndProject" in plans["x04_cosine_topk"]


def test_bench_headline_queries_exist():
    """bench.py's headline set must stay a subset of the registry — a
    rename breaks the driver's round-over-round comparison silently."""
    import bench

    missing = [q for q in bench.HEADLINE if q not in qr.QUERIES]
    assert missing == []


def test_every_oracle_has_a_query():
    dangling = [k for k in qr.ORACLE_SQL if k not in qr.QUERIES]
    assert dangling == []


def test_repetition_is_map_side(plans):
    """x14 computes the top-bigram count as a per-row sorted-run fold —
    there must be NO aggregation shuffle (the only allowed exchange is the
    fan-out round-robin on tiny benchmark inputs)."""
    p = plans["x14_repetition"]
    assert "Exchange hashpartitioning" not in p
    assert "HashAggregate" not in p


def test_cosine_pairs_topm_partial_window_limit(plans):
    """x04_cosine_pairs_topm: the rank<=m filter must run as a
    WindowGroupLimit Partial BEFORE the window exchange (map-side per-key
    top-k) — the property that bounds the shuffle to n*m rows however many
    candidate pairs the join generates."""
    p = plans["x04_cosine_pairs_topm"]
    assert re.search(r"WindowGroupLimit.*Partial", p)


def test_contamination_probe_broadcasts_bench(plans):
    """x18: the benchmark shingle set is the broadcast side — the corpus
    scan must not shuffle for the membership probe."""
    p = plans["x18_contamination"]
    assert "BroadcastHashJoin" in p


def test_pii_detect_is_map_only(plans):
    """PII detect/redact must be one scan, zero exchanges, and read only
    the columns the profile expression needs — the shape that makes a
    100 TB scrub embarrassingly parallel."""
    p = plans["x13_pii_detect"]
    assert len(re.findall(r"Scan parquet|FileScan parquet", p)) == 1
    assert "Exchange" not in p
    assert "pythonUDF" not in p


def test_incremental_admit_shuffles_hashes_not_strings(plans):
    """x28: the near-dup probe join must key on the 8-byte shingle hash
    (__s), never on string shingles; the corpus side must NOT be
    broadcast (it is corpus-scale by contract)."""
    p = plans["x28_incremental_admit"]
    assert re.search(r"Exchange hashpartitioning\(__s", p)
    assert "array_to_string" not in p


def test_rollup_release_single_pass(plans):
    """x33: ALL hierarchy levels come from ONE Expand + ONE partial-agg
    shuffle; the dimension joins broadcast. A per-level groupBy+union
    would show L scans/exchanges instead."""
    p = plans["x33_rollup_release"]
    assert len(re.findall(r"\bExpand\b", p)) == 1
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1
    assert len(re.findall(r"BroadcastHashJoin", p)) == 2  # nation, region


def test_kmap_joins_class_relations_not_rows(plans):
    """x35: both sides collapse to class-frequency relations before the
    join (2 partial-agg exchanges), and the sample-side classes broadcast —
    fact rows are never joined row-to-row."""
    p = plans["x35_kmap_audit"]
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 2
    assert "BroadcastHashJoin" in p


def test_bound_contribution_shuffles_users_once(spark, sf001):
    """x34's pre-noise core: one hash exchange on the user key feeds BOTH
    the row_number bounding window and (via partial aggs) the group sum —
    no second fact shuffle."""
    p = plan_of(qr.QUERIES["x34_user_contrib"](spark, sf001))
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 2  # user window + group agg
    assert "RunningWindowFunction" in p or "Window" in p
    assert "BatchEvalPython" not in p


def test_pseudonymize_is_map_only(plans):
    """x37: a keyed-token projection is one scan, zero exchanges, no
    Python anywhere."""
    p = plans["x37_pseudonymize"]
    assert len(re.findall(r"Scan parquet|FileScan parquet", p)) == 1
    assert "Exchange" not in p


def test_vgh_generalize_broadcasts_hierarchy(plans):
    """x38: the hierarchy dimension broadcasts; the only hash exchange is
    the group count's partial-agg shuffle."""
    p = plans["x38_vgh"]
    assert "BroadcastHashJoin" in p
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1


def test_weighted_sample_is_takeordered_no_shuffle(plans):
    """x50: the exponential-race key is a map-only projection and the
    top-n must run as TakeOrderedAndProject (per-partition heaps + one
    driver-side merge) — zero exchanges, no global Sort."""
    p = plans["x50_weighted_sample"]
    assert "TakeOrderedAndProject" in p
    assert "Exchange" not in p


def test_knn_join_corpus_never_shuffles(plans):
    """x81: the corpus side must not hash-shuffle — queries broadcast,
    scoring is map-side, and the per-query rank<=k runs as a map-side
    WindowGroupLimit Partial so the single window exchange carries <= k
    rows per query per partition."""
    p = plans["x81_knn_join"]
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert re.search(r"WindowGroupLimit.*Partial", p)
    # the only hashpartitioning exchange is the slim (id_q) window input
    assert len(re.findall(r"Exchange hashpartitioning", p)) <= 1


def test_qi_search_single_cube_pass(plans):
    """x100: ALL 2^m QI subsets come from ONE cube() Expand + partial-agg
    shuffle (the x33 lever) + a kilobyte re-agg — never a per-subset
    groupBy+union over the fact table."""
    p = plans["x100_qi_search"]
    assert len(re.findall(r"\bExpand\b", p)) == 1
    # one scan of customer for the cube; binning's min/max pass is separate
    assert p.count("CartesianProduct") == 0


def test_hard_negatives_corpus_never_shuffles(plans):
    """x133 inherits x81's shape: query batch broadcasts, label knock-out
    and scoring are map-side, rank<=k is a map-side WindowGroupLimit
    Partial; the only hash exchange is the slim (id_q) window input."""
    p = plans["x133_hard_negatives"]
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert re.search(r"WindowGroupLimit.*Partial", p)
    assert len(re.findall(r"Exchange hashpartitioning", p)) <= 1


def test_bloom_probe_broadcasts_position_set(plans):
    """x129: the bit-position set is bounded by the filter width m and
    must reach the probe as a broadcast, never by shuffling the probe
    side against it."""
    p = plans["x129_bloom"]
    assert "BroadcastExchange" in p


def test_scd2_single_window_family_shuffle(plans):
    """x125: compression, versioning and close-out share ONE
    key-partitioned sort — exactly one hash exchange of the dimension
    rows."""
    p = plans["x125_scd2"]
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1


def test_anatomy_no_global_sort_of_rows(plans):
    """x127: the global dealing rank must come from the per-sensitive
    window + broadcast offset join — never a single-partition sort of
    the fact rows."""
    p = plans["x127_anatomy"]
    assert "Exchange SinglePartition" not in p or "partial" in p.lower()
    assert "BroadcastHashJoin" in p


def test_skyline_broadcast_joinback_no_cartesian(plans):
    """x153: the frontier joins back to the fact table BROADCAST (it is
    kilobytes), and no stage is an unkeyed pair join — the naive skyline
    formulation would be a CartesianProduct NOT EXISTS."""
    p = plans["x153_skyline"]
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    # fact rows shuffle exactly once (the per-d1 collapse); the bucketed
    # prune + global sweep run on the slim group relation
    assert len(re.findall(r"Exchange hashpartitioning", p)) <= 2


def test_adamic_adar_broadcast_degrees_takeordered_cut(plans):
    """x155: common-neighbor degrees broadcast onto the wedge stream and
    the final top-k is a distributed TakeOrderedAndProject, not a global
    sort or single-reducer window."""
    p = plans["x155_adamic_adar"]
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_rank_stats_collapse_before_global_window(plans):
    """x156/x157: the only single-partition exchanges feed windows/aggs
    over the DISTINCT-VALUE relation — fact rows collapse in a
    partial-aggregated hash shuffle first (the x80 shape)."""
    for name in ("x156_kruskal_wallis", "x157_cliffs_delta"):
        p = plans[name]
        assert len(re.findall(r"Exchange hashpartitioning", p)) >= 1
        assert "CartesianProduct" not in p
        assert "BatchEvalPython" not in p


def test_permutation_and_bootstrap_explode_slim_relation_only(plans):
    """x158/x163: the (P+1)-way replicate explode happens AFTER the
    per-unit collapse — the generator's child plan must aggregate the
    fact table, so the explode multiplies unit rows, never event rows."""
    for name in ("x158_permutation_test", "x163_bootstrap_ci"):
        p = plans[name]
        gen = p.find("Generate explode")
        agg = p.find("HashAggregate")
        assert gen != -1 and agg != -1
        # the explode node sits above (before, in explain order) at least
        # one aggregate of the fact scan
        assert "HashAggregate" in p[gen:]


def test_quantile_norm_equi_join_rank_table(plans):
    """x159: the pooled rank lookup is an EQUI-join against the exploded
    (k, value) rank relation — never an inequality/range join (which
    would plan as BroadcastNestedLoop over fact rows)."""
    p = plans["x159_quantile_norm"]
    assert "CartesianProduct" not in p
    # the only BNL joins are one-row scalar cross joins (n_all); the
    # k-lookup itself must appear as a hash join
    assert (
        "BroadcastHashJoin" in p or "SortMergeJoin" in p or "ShuffledHashJoin" in p
    )


def test_textrank_distributed_cut_no_python(plans):
    """x164: tokenize→pairs is a map-only array transform (no per-doc
    window shuffle), the final cut is TakeOrderedAndProject, and nothing
    drops to row-at-a-time Python."""
    p = plans["x164_textrank"]
    assert "TakeOrderedAndProject" in p
    assert "BatchEvalPython" not in p


def test_theil_single_fact_aggregation(plans):
    """x165: one partial-aggregated group shuffle, no joins at all — the
    Σx·ln(x) rewrite removed the per-row mean join."""
    p = plans["x165_theil"]
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1
    assert "Join" not in p


def test_stream_join_twin_is_keyed_join(plans):
    """x162: the attribution pair join is keyed on user_id (hash or
    broadcast) with the time bounds as join filters — never an unkeyed
    pair join."""
    p = plans["x162_stream_join"]
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert (
        "BroadcastHashJoin" in p or "SortMergeJoin" in p or "ShuffledHashJoin" in p
    )


def test_mahalanobis_single_moments_pass_takeordered(plans):
    """x167: one moments aggregation broadcast back; the top cut is
    TakeOrderedAndProject; no Cartesian pair stage."""
    p = plans["x167_mahalanobis"]
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 0


def test_sequential_ab_explodes_user_relation_only(plans):
    """x168: the K-look explode multiplies the per-user collapse (one
    fact shuffle), never raw events."""
    p = plans["x168_sequential_ab"]
    gen = p.find("Generate explode")
    assert gen != -1 and "HashAggregate" in p[gen:]
    assert len(re.findall(r"Exchange hashpartitioning", p)) <= 2


def test_delete_plan_broadcasts_subjects(plans):
    """x169: the erasure-request relation broadcasts; the fact table
    never shuffles by subject (one partition-key aggregation only)."""
    p = plans["x169_delete_plan"]
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_join_cardinality_joins_count_relations_not_facts(plans):
    """x170: both sides collapse to per-key counts BEFORE the join — the
    join inputs are aggregates, so each side shows a partial/final
    HashAggregate pair under the join, and no fact-fact join exists."""
    p = plans["x170_join_cardinality"]
    assert "CartesianProduct" not in p
    # the count-relation join may be broadcast or shuffled; both fine —
    # what matters is aggregates feed it
    assert p.count("HashAggregate") >= 4
