"""Round-7 operator tests: the session cache ledger (zero residue after
release), all-suppressed pipeline metrics, self-blocking semantic dedup,
the distributed-PageRank round batching, the leakage-safe-split exact-dup
guarantee, and the streaming private-export composite.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbms_data_anonymity_differential_privacy_spark import queries_registry as qr
from dbms_data_anonymity_differential_privacy_spark.operators.util import (
    _CACHE_LEDGER,
    release_cached_relations,
)


def _persistent_ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


# ---------------------------------------------------------------------------
# Cache-ledger ownership and all-suppressed metrics rows
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "query",
    [
        "pipe_naive_metrics",
        "pipe_tcloseness_metrics",
        "c01_k_anonymize_suppress",
        "c04_t_closeness_strict",
        "c04_class_emd",
    ],
)
def test_end_to_end_zero_cache_residue(spark, sf0001, query):
    """The ownership contract: after running a k-anonymity / t-closeness
    query end to end and calling release_cached_relations(), NO persisted
    relation the engine created survives — composition loops in
    long-lived sessions cannot accumulate residue."""
    release_cached_relations()  # start clean of other tests' entries
    before = _persistent_ids(spark)
    qr.QUERIES[query](spark, sf0001).collect()
    release_cached_relations()
    leaked = _persistent_ids(spark) - before
    assert not leaked, f"persisted residue after release: {leaked}"
    assert len(_CACHE_LEDGER) == 0


def _census(spark):
    rows = [(20 + i % 7, ("F", "M")[i % 2], ("<=50K", ">50K")[i % 3 == 0]) for i in range(40)]
    return spark.createDataFrame(rows, "age int, sex string, income string")


def test_naive_pipeline_all_suppressed_metrics(spark):
    """k above every class size suppresses the whole release: the metrics
    row reports it without an ANSI divide-by-zero, NULL where a rate has
    no class to average over."""
    from dbms_data_anonymity_differential_privacy_spark import pipelines

    out = pipelines.naive_suppression_pipeline(_census(spark), ["age", "sex"], k=1000)
    row = out["metrics"].collect()[0].asDict()
    release_cached_relations()
    assert row == {
        "n_orig": 40,
        "n_anon": 0,
        "suppression_rate": 1.0,
        "min_class_size": 0,
        "k_satisfied": False,
        "uniqueness_rate": None,
        "reid_risk": None,
        "ncp": 1.0,
    }


def test_tcloseness_pipeline_all_suppressed_metrics(spark):
    from dbms_data_anonymity_differential_privacy_spark import pipelines

    out = pipelines.t_closeness_pipeline(
        _census(spark), ["age", "sex"], "income", k=1000, bin_spec={"age": 3}
    )
    row = out["metrics"].collect()[0].asDict()
    assert out["anonymized"].count() == 0
    release_cached_relations()
    assert row == {
        "n_orig": 40,
        "n_anon": 0,
        "suppression_rate": 1.0,
        "uniqueness_rate": None,
        "ncp": 1.0,
        "violations": None,
        "total_groups": 0,
        "violation_rate": None,
    }


# ---------------------------------------------------------------------------
# Self-blocking semantic dedup (x175_auto): no crossJoin, high recall on
# planted near-duplicates
# ---------------------------------------------------------------------------


def test_semantic_dedup_auto_plan_has_no_crossjoin(spark, sf0001):
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import semantic_dedup
    from dbms_data_anonymity_differential_privacy_spark.sources.readers import load_table

    emb = load_table(spark, sf0001, "embeddings")
    out = semantic_dedup(emb, threshold=0.4, block_col=None, auto_block_k=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_dedup_auto_requires_k(spark, sf0001):
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import semantic_dedup
    from dbms_data_anonymity_differential_privacy_spark.sources.readers import load_table

    emb = load_table(spark, sf0001, "embeddings")
    with pytest.raises(ValueError):
        semantic_dedup(emb, block_col=None, auto_block_k=0)


def test_semantic_dedup_auto_recall_on_planted_dups(spark):
    """Planted near-duplicates (tiny perturbations, cosine ~0.999) sit
    almost on top of each other, so nearest-center assignment puts them
    in the same derived block — the auto mode must recover (almost) all
    brute-force components. Recall here is exact-100% by construction
    margin; we assert >= 0.9 to keep the test robust."""
    import random

    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import semantic_dedup

    rng = random.Random(7)
    rows = []
    vid = 0
    originals = []
    for g in range(40):  # 40 well-separated base directions in R^16
        base = [rng.gauss(0, 1) for _ in range(16)]
        originals.append((vid, base))
        rows.append((vid, [float(x) for x in base]))
        vid += 1
    # plant 2 near-dups for the first 20 bases
    planted = []
    for g in range(20):
        src_id, base = originals[g]
        for _ in range(2):
            pert = [float(x + rng.gauss(0, 0.01)) for x in base]
            rows.append((vid, pert))
            planted.append((src_id, vid))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")

    auto = semantic_dedup(emb, threshold=0.98, block_col=None, auto_block_k=6)
    comp = {r.vec_id: r.component for r in auto.collect()}
    hit = sum(1 for s, d in planted if comp[s] == comp[d])
    assert hit / len(planted) >= 0.9, f"recall {hit}/{len(planted)}"
    # determinism: same input -> identical assignment
    again = {r.vec_id: r.component for r in
             semantic_dedup(emb, threshold=0.98, block_col=None,
                            auto_block_k=6).collect()}
    assert again == comp

    # sampled-coreset mode (the 100 TB fitting path): quantizer fit on a
    # deterministic hash-sample, assignment still over every row — the
    # planted near-dups stay co-blocked (they are nearly coincident, so
    # any center set assigns them together)
    samp = semantic_dedup(
        emb, threshold=0.98, block_col=None, auto_block_k=6,
        coreset_sample=0.5,
    )
    comp_s = {r.vec_id: r.component for r in samp.collect()}
    assert len(comp_s) == len(comp)
    hit_s = sum(1 for s, d in planted if comp_s[s] == comp_s[d])
    assert hit_s / len(planted) >= 0.9
    # a fraction too small to yield k fitting points falls back to the
    # full pool instead of failing
    tiny = semantic_dedup(
        emb, threshold=0.98, block_col=None, auto_block_k=6,
        coreset_sample=1e-9,
    )
    assert {r.vec_id: r.component for r in tiny.collect()} == comp


def test_semantic_dedup_auto_honors_custom_id_col(spark):
    """kcenter_coreset's output schema names the id column vec_id
    regardless of id_col; the auto-blocking path must realias before
    joining back (review finding: custom id_col crashed)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import semantic_dedup

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0]) for i in range(12)],
        "doc_id LONG, emb ARRAY<FLOAT>",
    )
    out = semantic_dedup(
        emb, threshold=0.99, block_col=None, auto_block_k=3,
        vec_col="emb", id_col="doc_id",
    )
    assert out.columns == ["doc_id", "component", "kept"]
    assert out.count() == 12


def test_semantic_dedup_auto_empty_input(spark):
    """Empty corpus: the documented zero-row (id, component, kept) shape,
    not an IndexError from the coreset seed collect."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import semantic_dedup

    emb = spark.createDataFrame([], "vec_id LONG, embedding ARRAY<FLOAT>")
    out = semantic_dedup(emb, threshold=0.5, block_col=None, auto_block_k=4)
    assert out.columns == ["vec_id", "component", "kept"]
    assert out.count() == 0


# ---------------------------------------------------------------------------
# leakage_safe_split: exact duplicates co-assign even below shingle width
# ---------------------------------------------------------------------------


def test_leakage_safe_split_coassigns_short_exact_dups(spark):
    """Identical documents SHORTER than the shingle width n produce zero
    shingles and are invisible to the Jaccard pair source; the explicit
    exact-text pair source must still land them in one component (the
    docstring's leakage guarantee)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import leakage_safe_split

    docs = spark.createDataFrame(
        [
            (1, "hi there"),  # 2 tokens < n=3 -> zero trigram shingles
            (2, "hi there"),
            (3, "completely different text that is long enough to shingle"),
            (4, "completely different text that is long enough to shingle"),
            (5, "a singleton"),
        ],
        "doc_id LONG, text STRING",
    )
    out = {
        r.doc_id: (r.component, r.split)
        for r in leakage_safe_split(docs, threshold=0.2, n=3).collect()
    }
    assert out[1] == out[2]  # short exact dups: one component, one side
    assert out[3] == out[4]  # long exact dups still co-assign (J = 1)
    assert out[5][0] == 5  # singleton stays its own component
    assert len(out) == 5


def test_leakage_safe_split_null_texts_stay_independent(spark):
    """NULL texts carry no duplication evidence: they must remain
    independent singleton components, never fuse into one giant
    md5(NULL) component whose single coin flip would swing the split
    fractions by the whole null mass (review finding)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import leakage_safe_split

    docs = spark.createDataFrame(
        [(i, None) for i in range(1, 8)] + [(8, "some real text here")],
        "doc_id LONG, text STRING",
    )
    rows = {r.doc_id: r.component for r in
            leakage_safe_split(docs, threshold=0.2, n=3).collect()}
    assert len(rows) == 8
    for i in range(1, 8):
        assert rows[i] == i, f"null-text doc {i} fused into {rows[i]}"


# ---------------------------------------------------------------------------
# Distributed PageRank barrier batching: bit-identical across batch
# boundaries (iters below, at, and past BARRIER_EVERY)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("iters", [3, 5, 7, 12])
def test_pagerank_barrier_batching_bit_identical(spark, iters):
    """BARRIER_EVERY=5 materializes every fifth round; the in-between
    rounds ride lazily. The refactor must be value-invisible at every
    batch geometry: iters strictly inside one batch (3), exactly at the
    barrier (5), one partial batch past it (7), and two barriers + a
    partial (12). Driver fast path is the independent reference."""
    from dbms_data_anonymity_differential_privacy_spark.operators.graph import pagerank_int

    edges = spark.createDataFrame(
        [(a, b) for a in range(12) for b in [(a * 3 + 1) % 12, (a * 5 + 2) % 12]
         if a != b],
        "src LONG, dst LONG",
    )
    drv = {r.node: r.rank_ppb for r in pagerank_int(edges, iters=iters).collect()}
    dist = {
        r.node: r.rank_ppb
        for r in pagerank_int(edges, iters=iters, driver_threshold=0).collect()
    }
    assert drv == dist


# ---------------------------------------------------------------------------
# x04_cosine_pairs_topm: WindowGroupLimit partial survives AQE at the
# INFLATED scale (the sf1 hotspot gate — r6 verdict task 8)
# ---------------------------------------------------------------------------


def test_cosine_topm_partial_window_limit_at_inflated_scale(spark, sf0001, tmp_path):
    """The map-side per-key top-k (WindowGroupLimit Partial) is what
    bounds the exchange to n*m rows; AQE re-plans at runtime, so the
    static sf0.01 gate in test_plans.py is not evidence for the inflated
    regime. Build a 10x-inflated embeddings table with the
    tools/inflate_sf.py transform (key remap + cyclic rotation), run the
    registry query to COMPLETION, and assert the partial limit is in the
    FINAL adaptive plan."""
    import re

    from dbms_data_anonymity_differential_privacy_spark import queries_registry as qr
    from dbms_data_anonymity_differential_privacy_spark.sources.readers import load_table

    sys_path = str(tmp_path / "sf_inflated")
    emb = load_table(spark, sf0001, "embeddings")
    parts = []
    for i in range(10):
        p = emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * (1 << 40)))
        if i:
            p = p.withColumn(
                "embedding",
                F.concat(
                    F.slice(F.col("embedding"), i + 1, F.size(F.col("embedding"))),
                    F.slice(F.col("embedding"), 1, F.lit(i)),
                ),
            )
        parts.append(p)
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    u.write.mode("overwrite").parquet(sys_path + "/embeddings.parquet")

    df = qr.QUERIES["x04_cosine_pairs_topm"](spark, sys_path)
    n = df.count()  # run to completion so AQE finalizes the plan
    assert n > 0
    final = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"WindowGroupLimit.*Partial", final), final[:2000]


# ---------------------------------------------------------------------------
# x176: corpus-level duplicated-line removal (dedup_lines_corpus)
# ---------------------------------------------------------------------------


def _line_dedup(spark, rows, **kw):
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import dedup_lines_corpus

    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = dedup_lines_corpus(df, **kw)
    return {r["doc_id"]: (r["n_lines"], r["n_kept"], r["text_hash"]) for r in out.collect()}


def _md5(s: str) -> str:
    import hashlib

    return hashlib.md5(s.encode()).hexdigest()


def test_line_dedup_first_occurrence_wins(spark):
    """A line shared across documents survives only at its minimum
    (doc_id, pos); the rebuilt text drops later occurrences in place."""
    got = _line_dedup(
        spark,
        [
            (1, "alpha\nshared one\nbeta"),
            (2, "shared one\ngamma\nshared one"),
            (3, "delta\nshared one"),
        ],
    )
    assert got[1] == (3, 3, _md5("alpha\nshared one\nbeta"))
    assert got[2] == (3, 1, _md5("gamma"))
    assert got[3] == (2, 1, _md5("delta"))


def test_line_dedup_identity_is_trimmed_content(spark):
    """'  x  ' and 'x' are the same line for dedup purposes, but the KEPT
    occurrence is rebuilt with its ORIGINAL bytes."""
    got = _line_dedup(spark, [(1, "  x  \ny"), (2, "x\nz")])
    assert got[1] == (2, 2, _md5("  x  \ny"))
    assert got[2] == (2, 1, _md5("z"))


def test_line_dedup_blank_lines_exempt(spark):
    """min_chars=1 (default): blank/whitespace lines are structure — kept
    in every document, never fused onto one winner."""
    got = _line_dedup(spark, [(1, "a\n\nb"), (2, "c\n\nd")])
    assert got[1] == (3, 3, _md5("a\n\nb"))
    assert got[2] == (3, 3, _md5("c\n\nd"))


def test_line_dedup_doc_losing_every_line(spark):
    got = _line_dedup(spark, [(1, "only line"), (2, "only line")])
    assert got[1] == (1, 1, _md5("only line"))
    assert got[2] == (1, 0, _md5(""))


def test_line_dedup_null_text_and_literal_delim(spark):
    """NULL text behaves as empty; a regex-metacharacter delimiter is
    treated literally (split is \\Q-quoted to match the literal rebuild)."""
    got = _line_dedup(spark, [(1, None), (2, "a.b.a.c")], delim=".")
    assert got[1] == (1, 1, _md5(""))
    # 'a' dedups against itself within doc 2: first occurrence kept
    assert got[2] == (4, 3, _md5("a.b.c"))


def test_line_dedup_partition_invariant(spark):
    """The winner is a total order over (doc_id, pos) — repartitioning the
    input must not change a single output byte."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import dedup_lines_corpus

    rows = [(i, f"common header\nbody {i}\ncommon footer") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    a = sorted(map(tuple, dedup_lines_corpus(df).collect()))
    b = sorted(map(tuple, dedup_lines_corpus(df.repartition(7, "text")).collect()))
    assert a == b
    # header+footer survive only in doc 0
    by_id = {t[0]: t for t in a}
    assert by_id[0][2] == 3 and all(by_id[i][2] == 1 for i in range(1, 50))


# ---------------------------------------------------------------------------
# x177: Johnson–Lindenstrauss random projection (random_project)
# ---------------------------------------------------------------------------


def test_random_project_matches_numpy(spark):
    """The engine fold reproduces the exact matrix product with the
    rp_sign_matrix signs (same seed) to double precision."""
    import numpy as np

    from dbms_data_anonymity_differential_privacy_spark.operators.embeddings import (
        random_project,
        rp_sign_matrix,
    )

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(20, 8)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    out = random_project(df, in_dim=8, out_dim=4, seed="t")
    got = {(r["vec_id"], r["dim"]): r["value"] for r in out.collect()}
    assert len(got) == 80
    m = np.array(rp_sign_matrix(8, 4, "t"))  # 4 x 8
    want = (vecs.astype("float64") @ m.T) / np.sqrt(4.0)
    for i in range(20):
        for j in range(4):
            assert got[(i, j)] == pytest.approx(round(float(want[i, j]), 9), abs=1e-9)


def test_random_project_preserves_distances(spark):
    """JL contract: with out_dim=32 from 64, pairwise squared distances
    are preserved within a loose (1 +- 0.75) band — a broken sign matrix
    (e.g. all +1) collapses distances and fails this wildly."""
    import numpy as np

    from dbms_data_anonymity_differential_privacy_spark.operators.embeddings import random_project

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(12, 64))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    out = random_project(df, in_dim=64, out_dim=32).collect()
    proj = np.zeros((12, 32))
    for r in out:
        proj[r["vec_id"], r["dim"]] = r["value"]
    for a in range(12):
        for b in range(a + 1, 12):
            d0 = float(np.sum((vecs[a] - vecs[b]) ** 2))
            d1 = float(np.sum((proj[a] - proj[b]) ** 2))
            assert 0.25 * d0 < d1 < 1.75 * d0, (a, b, d0, d1)


def test_random_project_drops_malformed_and_is_seeded(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.embeddings import random_project

    rows = [(0, [1.0, 2.0]), (1, None), (2, [1.0]), (3, [3.0, 4.0])]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    out = random_project(df, in_dim=2, out_dim=2, seed="a")
    assert sorted({r["vec_id"] for r in out.collect()}) == [0, 3]
    a = {(r["vec_id"], r["dim"]): r["value"] for r in out.collect()}
    b = {
        (r["vec_id"], r["dim"]): r["value"]
        for r in random_project(df, in_dim=2, out_dim=2, seed="b").collect()
    }
    assert a != b  # seed changes the matrix


def test_x177_plan_is_map_only(spark, sf0001):
    """Zero exchanges: the projection must stay whole-stage map-side."""
    df = qr.QUERIES["x177_random_projection"](spark, sf0001)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_x176_plan_is_skew_safe(spark, sf0001):
    """Winner selection must be a partial-combined aggregation, NOT a
    window over the line hash — a window ships every occurrence of a
    corpus-wide boilerplate line to one reducer."""
    df = qr.QUERIES["x176_line_dedup"](spark, sf0001)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "partial_min" in plan or "partial min" in plan.lower()
    assert "BatchEvalPython" not in plan
