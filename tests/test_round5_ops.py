"""Round-5 operators: SCD2, integer PageRank, Anatomy, Zipf fit, Bloom
membership, sliding chunks, containment pairs."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tests.conftest import *  # noqa: F401,F403 — spark/sf fixtures


def test_scd2_compresses_runs_and_versions(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.scd import scd2_build

    rows = [
        # key 1: A A B A  -> 3 runs
        (1, "A", 10, 1), (1, "A", 20, 2), (1, "B", 30, 3), (1, "A", 40, 4),
        # key 2: single row -> one open run
        (2, "X", 15, 5),
        # key 3: null -> value -> null
        (3, None, 10, 6), (3, "Y", 20, 7), (3, None, 30, 8),
    ]
    df = spark.createDataFrame(rows, ["k", "state", "ts", "eid"])
    out = scd2_build(df, ["k"], ["state"], ts_col="ts", tiebreak=["eid"]).collect()
    hist = {(r.k, r.version): r for r in out}
    assert len(out) == 3 + 1 + 3
    assert hist[(1, 1)].state == "A" and hist[(1, 1)].valid_to == 30
    assert hist[(1, 2)].state == "B" and hist[(1, 2)].valid_from == 30
    assert hist[(1, 3)].state == "A" and hist[(1, 3)].is_current
    assert hist[(2, 1)].is_current and hist[(2, 1)].valid_to is None
    # null state rows survive as their own runs
    assert hist[(3, 1)].state is None and hist[(3, 2)].state == "Y"
    assert hist[(3, 3)].state is None and hist[(3, 3)].is_current
    # exactly one current row per key
    cur = [r for r in out if r.is_current]
    assert sorted(r.k for r in cur) == [1, 2, 3]


def test_pagerank_driver_vs_distributed_and_mass(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.graph import (
        PPB,
        pagerank_int,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 1), (5, 1), (5, 2)], ["src", "dst"]
    )
    drv = {r.node: r.rank_ppb for r in pagerank_int(edges, iters=5).collect()}
    dist = {
        r.node: r.rank_ppb
        for r in pagerank_int(edges, iters=5, driver_threshold=0).collect()
    }
    assert drv == dist
    assert set(drv) == {1, 2, 3, 4, 5}
    # nodes with no in-links hold exactly the teleport share
    assert drv[4] == drv[5] == 150_000_000 // 5 + 0
    assert min(drv, key=drv.get) in (4, 5)
    # mass bounded by PPB; floor-division only loses mass, never creates it
    assert 0 < sum(drv.values()) <= PPB
    # sinks (no out-edges) still hold teleport mass
    assert all(v >= 150_000_000 // 5 for v in drv.values())


def test_anatomize_groups_are_diverse_when_eligible(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.kanonymity import anatomize

    # 12 records, 4 sensitive values x 3 each; ell=3 -> 4 groups of 3,
    # max frequency 3 <= n_groups 4 -> every group must be l-diverse
    rows = [(i, i % 5, "SABCD"[i % 4]) for i in range(12)]
    df = spark.createDataFrame(rows, ["id", "qi1", "sens"])
    parts = anatomize(df, qi=["qi1"], sensitive="sens", id_col="id", ell=3)
    groups = parts["groups"].collect()
    assert len(groups) == 4
    assert all(g.l_diverse and g.group_size == 3 for g in groups)
    # QIT and ST reconcile: per-group sensitive counts match
    qit = parts["qit"].collect()
    assert len(qit) == 12 and len({r.id for r in qit}) == 12
    st_total = sum(r.cnt for r in parts["st"].collect())
    assert st_total == 12
    with pytest.raises(ValueError):
        anatomize(df, qi=["qi1"], sensitive="sens", id_col="id", ell=1)


def test_bloom_membership_no_false_negatives(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.sketch import bloom_membership

    build = spark.createDataFrame([(k,) for k in range(0, 2000, 2)], ["k"])
    probe = spark.createDataFrame([(k,) for k in range(2000)], ["k"])
    res = {r.key: r.maybe_present for r in
           bloom_membership(build, "k", probe, "k", m=8192).collect()}
    # every member reports present
    assert all(res[k] for k in range(0, 2000, 2))
    # small filter, 1000 keys in 8192 bits, k=3: FP rate well under 50%
    fps = sum(res[k] for k in range(1, 2000, 2))
    assert fps < 500


def test_containment_catches_subset_docs(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon zeta"
    long = short + " " + " ".join(f"w{i}" for i in range(100))
    docs = spark.createDataFrame(
        [(1, short), (2, long), (3, "totally unrelated words here okay")],
        ["doc_id", "text"],
    )
    pairs = containment_pairs(docs, threshold=0.9, n=3).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert (p.id_a, p.id_b) == (1, 2)
    assert p.cont_a_r == 1.0  # short fully inside long
    assert p.cont_b_r < 0.2
    # Jaccard at the same strength misses it — the operator's raison d'etre
    jac = ngram_jaccard_pairs(docs, threshold=0.9, n=3).collect()
    assert jac == []


def test_negative_samples_never_hit_positives(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.sampling import negative_samples

    pos = spark.createDataFrame(
        [(1, i) for i in range(1, 50)] + [(2, 3), (2, 4)], ["u", "it"]
    )
    items = spark.createDataFrame([(i,) for i in range(1, 101)], ["item_id"])
    out = negative_samples(pos, "u", "it", items, "item_id", k=5, oversample=4).collect()
    by_u: dict = {}
    for r in out:
        by_u.setdefault(r.u, []).append(r)
    pos_set = {(1, i) for i in range(1, 50)} | {(2, 3), (2, 4)}
    for u, rows in by_u.items():
        assert len(rows) <= 5
        assert len({r.it for r in rows}) == len(rows)  # no dup items
        for r in rows:
            assert (u, r.it) not in pos_set
            assert 1 <= r.it <= 100
        assert sorted(r.rnk for r in rows) == list(range(1, len(rows) + 1))
    # determinism: rerun gives the identical result
    again = negative_samples(pos, "u", "it", items, "item_id", k=5, oversample=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    with pytest.raises(ValueError):
        negative_samples(pos, "u", "it", items, "item_id", k=0)


def test_hard_negatives_exclude_same_label(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.similarity import (
        hard_negatives,
        knn_join,
    )

    rows = [
        (1, [1.0, 0.0], 0), (2, [0.99, 0.1], 0), (3, [0.9, 0.2], 1),
        (4, [0.0, 1.0], 1), (5, [0.1, 0.9], 0),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    q = emb.filter(F.col("vec_id") == 1)
    out = hard_negatives(emb, q, k=3).collect()
    labels = {r[0]: r[2] for r in rows}
    assert all(labels[r.id_c] != 0 for r in out)  # query 1 has label 0
    # nearest different-label neighbor of vec 1 is vec 3
    assert out[0].id_c == 3 and out[0].rnk == 1
    # and the unconstrained knn would have ranked a same-label vec first
    knn = knn_join(emb, q, k=2, impl="sql").collect()
    assert labels[[r for r in knn if r.rnk == 2][0].id_c] == 0


def test_nelson_aalen_matches_hand_computation(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import nelson_aalen

    # t=1: d=1 n=4 -> 0.25 ; t=2: censored only -> no row ; t=3: d=2 n=2 -> +1.0
    obs = [(1, 1), (2, 0), (3, 1), (3, 1)]
    df = spark.createDataFrame(obs, ["duration", "event"])
    out = {r.t: r for r in nelson_aalen(df).collect()}
    assert set(out) == {1, 3}
    assert out[1].n_risk == 4 and out[1].d_events == 1
    assert abs(out[1].cumhaz_r - 0.25) < 1e-9
    assert out[3].n_risk == 2 and out[3].d_events == 2
    assert abs(out[3].cumhaz_r - 1.25) < 1e-9


def test_cuped_reduces_variance_when_correlated(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import cuped_adjust

    # users whose pre and post metrics are perfectly correlated except a
    # constant arm effect: CUPED should keep the effect and report high
    # variance reduction
    import datetime

    pre = datetime.datetime(2024, 1, 10)
    post = datetime.datetime(2024, 1, 20)
    rows = []
    for u in range(100):
        base = float(u % 7)
        rows.append((u, pre, base))
        rows.append((u, post, base + (2.0 if u % 2 == 1 else 0.0)))
    df = spark.createDataFrame(rows, ["user_id", "ts", "value"])
    r = cuped_adjust(df, "2024-01-16 00:00:00").collect()[0]
    assert r.n_users == 100
    assert abs(r.adj_diff_r - 2.0) < 0.3   # arm effect survives
    assert r.var_reduction_r > 0.5          # most variance explained by X
    assert abs(r.theta_r - 1.0) < 0.2


def test_decile_lift_orders_high_scores_first(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import decile_lift

    rows = []
    for u in range(100):
        rows.append((u, "click", float(100 - u)))     # score = 100-u
        if u < 20:                                     # top scorers convert
            rows.append((u, "purchase", 1.0))
    df = spark.createDataFrame(rows, ["user_id", "event_type", "value"])
    out = {r.decile: r for r in decile_lift(df).collect()}
    assert len(out) == 10
    assert out[1].conv_rate_r == 1.0 and out[2].conv_rate_r == 1.0
    assert out[10].conv_rate_r == 0.0
    assert out[1].lift_r == 5.0  # 1.0 / (20/100)
    assert sum(r.n_users for r in out.values()) == 100


def test_triangle_count_known_graphs(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.graph import triangle_count

    # K4 has 4 triangles, 6 edges, 12 triples, transitivity 1.0
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    out = triangle_count(spark.createDataFrame(k4, ["src", "dst"])).collect()[0]
    assert (out.n_nodes, out.n_edges, out.n_triangles, out.n_triples) == (4, 6, 4, 12)
    assert out.clustering_coeff_r == 1.0
    # a path a-b-c has 0 triangles, 1 triple; duplicate/reversed edges collapse
    path = [(1, 2), (2, 3), (3, 2), (2, 1)]
    out2 = triangle_count(spark.createDataFrame(path, ["src", "dst"])).collect()[0]
    assert (out2.n_edges, out2.n_triangles, out2.n_triples) == (2, 0, 1)
    assert out2.clustering_coeff_r == 0.0
    # star K1,3: 3 triples, 0 triangles
    star = [(0, 1), (0, 2), (0, 3)]
    out3 = triangle_count(spark.createDataFrame(star, ["src", "dst"])).collect()[0]
    assert (out3.n_triangles, out3.n_triples) == (0, 3)


def test_retrieval_eval_hand_case(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.embeddings import (
        ndcg_weights,
        retrieval_eval,
    )

    # weights: integer, strictly decreasing, cumw = prefix sum
    wt = ndcg_weights(5)
    assert wt[0] == (1, 10**9, 10**9)
    assert [w for _, w, _ in wt] == sorted((w for _, w, _ in wt), reverse=True)
    assert all(wt[i][2] == wt[i - 1][2] + wt[i][1] for i in range(1, 5))

    rows = [
        (0, [1.0, 0.0], 0),     # the query
        (1, [1.0, 0.1], 0),     # relevant, 2nd-closest
        (2, [0.5, 1.0], 1),     # irrelevant, farthest
        (3, [1.0, 0.05], 1),    # irrelevant, closest
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    q = emb.filter(F.col("vec_id") == 0)
    out = retrieval_eval(emb, q, k=3, impl="sql").collect()
    assert len(out) == 1
    r = out[0]
    # ranking (self excluded): id3, id1, id2 -> one relevant hit at rank 2
    assert r.n_rel == 1 and r.hits == 1
    assert r.recall_k == 1.0            # 1 hit / min(k, n_rel)=1
    assert r.mrr == 0.5                 # first relevant at rank 2
    w2 = ndcg_weights(3)[1][1]
    assert r.ndcg == round(w2 / 1e9, 9)  # dcg=w(2), idcg=cumw(1)=w(1)=1e9


def test_retrieval_eval_perfect_and_empty(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.embeddings import (
        retrieval_eval,
    )

    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.9, 0.1], 0),
        (2, [0.8, 0.2], 0),
        (3, [0.0, 1.0], 1),   # lone label: zero relevant others
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = {r.vec_id: r for r in retrieval_eval(emb, emb, k=2, impl="sql").collect()}
    # id 0: both neighbors in top-2 are its own label -> perfect retrieval
    assert out[0].ndcg == 1.0 and out[0].recall_k == 1.0 and out[0].mrr == 1.0
    # id 3: n_rel == 0 -> ratio metrics NULL, mrr floor 0.0
    assert out[3].n_rel == 0
    assert out[3].recall_k is None and out[3].ndcg is None and out[3].mrr == 0.0


def _acf_events(spark, counts):
    """Events realizing the given hourly count series starting 2024-01-01."""
    import datetime

    rows = []
    eid = 0
    for h, c in enumerate(counts):
        t = datetime.datetime(2024, 1, 1) + datetime.timedelta(hours=h)
        for _ in range(c):
            rows.append((eid, t))
            eid += 1
    return spark.createDataFrame(rows, "event_id long, ts timestamp")


def test_acf_matches_numpy_full_mean_estimator(spark):
    import numpy as np

    from dbms_data_anonymity_differential_privacy_spark.operators.stats import acf

    counts = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8]
    out = {r.lag: r for r in acf(_acf_events(spark, counts), max_lag=4).collect()}
    x = np.array(counts, dtype=float)
    xc = x - x.mean()
    den = (xc * xc).sum()
    for k in range(1, 5):
        expect = (xc[k:] * xc[:-k]).sum() / den
        assert out[k].n_pairs == len(counts) - k
        assert abs(out[k].acf_r - expect) < 1e-9


def test_acf_periodic_series_peaks_at_period(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import acf

    counts = [10, 2, 5, 10, 2, 5, 10, 2, 5, 10, 2, 5]  # period 3
    out = {r.lag: r.acf_r for r in acf(_acf_events(spark, counts), max_lag=4).collect()}
    assert out[3] > out[1] and out[3] > out[2] and out[3] > out[4]
    assert out[3] > 0.7


def test_acf_gaps_zero_filled_and_constant_null(spark):
    import datetime

    from dbms_data_anonymity_differential_privacy_spark.operators.stats import acf

    # hours 0 and 3 observed, 1-2 silent -> dense spine has 4 buckets
    t0 = datetime.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(1, t0), (2, t0 + datetime.timedelta(hours=3))], "event_id long, ts timestamp"
    )
    out = {r.lag: r for r in acf(ev, max_lag=2).collect()}
    assert out[1].n_pairs == 3 and out[2].n_pairs == 2

    # constant series -> zero variance -> NULL acf
    ev2 = _acf_events(spark, [2, 2, 2, 2])
    assert all(r.acf_r is None for r in acf(ev2, max_lag=2).collect())


def _daily_events(spark, counts):
    import datetime

    rows, eid = [], 0
    for d, c in enumerate(counts):
        t = datetime.datetime(2024, 1, 1, 12) + datetime.timedelta(days=d)
        for _ in range(c):
            rows.append((eid, t))
            eid += 1
    return spark.createDataFrame(rows, "event_id long, ts timestamp")


def test_mann_kendall_monotone_series(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import mann_kendall

    # strictly increasing: S = n(n-1)/2, Sen slope = exact median of slopes
    counts = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]
    r = mann_kendall(_daily_events(spark, counts)).collect()[0]
    n = len(counts)
    assert r.n_periods == n and r.n_pairs == n * (n - 1) // 2
    assert r.s_stat == n * (n - 1) // 2
    assert r.var18 == n * (n - 1) * (2 * n + 5)  # no ties
    assert r.sen_slope_r == 1.0
    assert r.trend == "increasing" and r.z_r > 1.96


def test_mann_kendall_matches_textbook_hand_case(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import mann_kendall

    counts = [4, 2, 4, 7, 5]
    r = mann_kendall(_daily_events(spark, counts)).collect()[0]
    # hand S: pairs (4,2)-1 (4,4)0 (4,7)+1 (4,5)+1 (2,4)+1 (2,7)+1 (2,5)+1
    #         (4,7)+1 (4,5)+1 (7,5)-1  => S = 5
    assert r.s_stat == 5 and r.n_pairs == 10
    # ties: value 4 appears twice -> tie_term = 2*1*9 = 18
    n = 5
    assert r.var18 == n * (n - 1) * (2 * n + 5) - 18
    # sen: median of 10 pairwise slopes, hand-sorted
    slopes = sorted(
        (b - a) / (j - i)
        for i, a in enumerate(counts)
        for j, b in enumerate(counts)
        if j > i
    )
    expect = (slopes[4] + slopes[5]) / 2
    assert abs(r.sen_slope_r - expect) < 1e-9
    assert r.trend == "no_trend"


def test_mann_kendall_constant_series_null_z(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import mann_kendall

    r = mann_kendall(_daily_events(spark, [3, 3, 3, 3])).collect()[0]
    assert r.s_stat == 0 and r.var18 == 0
    assert r.z_r is None and r.trend == "no_trend"


def test_target_encode_shrinks_toward_prior(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.features import target_encode

    rows = (
        [("big", 1)] * 80 + [("big", 0)] * 20      # big: rate 0.8, n=100
        + [("rare", 1)] * 1 + [("rare", 0)] * 1    # rare: rate 0.5, n=2
    )
    df = spark.createDataFrame(rows, ["cat", "y"])
    out = {r.cat: r for r in target_encode(df, "cat", F.col("y"), m=10).collect()}
    prior = 81 / 102
    # exact closed form: (hits + m*prior) / (n + m)
    assert abs(out["big"].enc_r - (80 + 10 * prior) / 110) < 1e-9
    assert abs(out["rare"].enc_r - (1 + 10 * prior) / 12) < 1e-9
    # shrinkage direction: big stays near 0.8, rare pulled toward prior
    assert abs(out["rare"].enc_r - prior) < abs(0.5 - prior)
    assert out["big"].n == 100 and out["big"].hits == 80

    # m=0 degenerates to the plain category rate
    out0 = {r.cat: r for r in target_encode(df, "cat", F.col("y"), m=0).collect()}
    assert out0["big"].enc_r == 0.8 and out0["rare"].enc_r == 0.5


def _src_docs(spark, a_text, b_text):
    rows = [(1, a_text, "A"), (2, b_text, "B")]
    return spark.createDataFrame(rows, ["doc_id", "text", "source"])


def test_jsd_identical_zero_disjoint_ln2(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.text import jsd_divergence

    same = "x y z x y z"
    r = jsd_divergence(_src_docs(spark, same, same), "A", "B", top_k=10).collect()[0]
    assert r.jsd_r == 0.0 and r.jsd_norm_r == 0.0

    r2 = jsd_divergence(
        _src_docs(spark, "aa aa bb", "cc dd dd"), "A", "B", top_k=10
    ).collect()[0]
    assert r2.jsd_norm_r == 1.0  # disjoint vocabularies -> JSD = ln 2


def test_jsd_matches_scipy_formula(spark):
    import math

    from dbms_data_anonymity_differential_privacy_spark.operators.text import jsd_divergence

    a = "w1 w1 w1 w2 w2 w3"
    b = "w1 w2 w2 w2 w4 w4"
    r = jsd_divergence(_src_docs(spark, a, b), "A", "B", top_k=10).collect()[0]

    def dist(text):
        toks = text.split()
        return {w: toks.count(w) / len(toks) for w in set(toks)}

    p, q = dist(a), dist(b)
    words = set(p) | set(q)
    jsd = 0.0
    for w in words:
        pw, qw = p.get(w, 0.0), q.get(w, 0.0)
        m = (pw + qw) / 2
        if pw > 0:
            jsd += 0.5 * pw * math.log(pw / m)
        if qw > 0:
            jsd += 0.5 * qw * math.log(qw / m)
    assert abs(r.jsd_r - jsd) < 1e-9
    assert r.a_total == 6 and r.b_total == 6


def test_jsd_other_bucket_completes_distribution(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.text import jsd_divergence

    # top_k=1 keeps only the most frequent token; the rest lands in OTHER,
    # so totals still cover every token
    a = "top top top rare1 rare2"
    b = "top top rare3 rare3 rare3"
    r = jsd_divergence(_src_docs(spark, a, b), "A", "B", top_k=1).collect()[0]
    assert r.n_terms == 2  # 'top' + OTHER
    assert r.a_total == 5 and r.b_total == 5
    assert 0.0 < r.jsd_norm_r < 1.0


def test_roc_auc_separation_and_ties(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.features import roc_auc

    # perfect separation -> AUC 1; reversed -> 0; random-ish ties -> hand value
    perfect = spark.createDataFrame(
        [(0.1, 0), (0.2, 0), (0.8, 1), (0.9, 1)], ["s", "y"]
    )
    r = roc_auc(perfect, "s", F.col("y")).collect()[0]
    assert r.auc_r == 1.0 and r.n_pos == 2 and r.n_neg == 2

    reverse = spark.createDataFrame(
        [(0.9, 0), (0.8, 0), (0.2, 1), (0.1, 1)], ["s", "y"]
    )
    assert roc_auc(reverse, "s", F.col("y")).collect()[0].auc_r == 0.0

    # all scores tied -> AUC exactly 0.5 by tie-averaging
    tied = spark.createDataFrame([(0.5, 0), (0.5, 1), (0.5, 0), (0.5, 1)], ["s", "y"])
    assert roc_auc(tied, "s", F.col("y")).collect()[0].auc_r == 0.5


def test_roc_auc_matches_sklearn_style_bruteforce(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.features import roc_auc

    data = [(0.1, 0), (0.4, 0), (0.35, 1), (0.8, 1), (0.4, 1), (0.7, 0), (0.4, 0)]
    df = spark.createDataFrame(data, ["s", "y"])
    r = roc_auc(df, "s", F.col("y")).collect()[0]
    # brute force: P(score_pos > score_neg) + 0.5 P(tie)
    pos = [s for s, y in data if y == 1]
    neg = [s for s, y in data if y == 0]
    wins = sum((p > n) + 0.5 * (p == n) for p in pos for n in neg)
    assert abs(r.auc_r - wins / (len(pos) * len(neg))) < 1e-9

    # single-class input -> NULL
    one = spark.createDataFrame([(0.3, 1), (0.7, 1)], ["s", "y"])
    assert roc_auc(one, "s", F.col("y")).collect()[0].auc_r is None


def test_bh_critical_ladder_monotone_and_exact(spark):
    from statistics import NormalDist

    from dbms_data_anonymity_differential_privacy_spark.operators.stats import bh_critical_z

    lad = bh_critical_z(5, 0.05)
    crits = [c for _, c in lad]
    # step-up thresholds loosen with rank: crit_1 (Bonferroni-like) is
    # strictest, crit_m equals the single-test 1.96-ish cut
    assert crits == sorted(crits, reverse=True)
    assert abs(crits[-1] - NormalDist().inv_cdf(1 - 0.025)) < 1e-12
    assert abs(crits[0] - NormalDist().inv_cdf(1 - 0.005)) < 1e-12


def test_bh_fdr_rejects_planted_effect_only(spark):
    import datetime

    from dbms_data_anonymity_differential_privacy_spark.operators.stats import bh_fdr_ab_family

    # users 0..999; md5 split decides arms. Metric 'hot' fires for arm-a
    # users only (massive effect); 'cold' fires for everyone (no effect).
    from pyspark.sql import functions as SF

    base = spark.range(1000).select(SF.col("id").alias("user_id"))
    h = SF.substring(
        SF.md5(SF.concat_ws("|", SF.col("user_id").cast("string"), SF.lit("ab")).cast("binary")),
        1, 8,
    )
    arms = base.withColumn("a", (h < SF.lit("80000000")).cast("int"))
    t0 = datetime.datetime(2024, 1, 1)
    hot = arms.filter(SF.col("a") == 1).select(
        SF.col("user_id"), SF.lit(t0).alias("ts"), SF.lit("hot").alias("event_type")
    )
    cold = arms.select(
        SF.col("user_id"), SF.lit(t0).alias("ts"), SF.lit("cold").alias("event_type")
    )
    ev = hot.unionByName(cold)
    out = {r.metric: r for r in bh_fdr_ab_family(ev, ["hot", "cold", "ghost"]).collect()}
    assert out["hot"].rejected and out["hot"].bh_rank == 1
    assert not out["cold"].rejected
    # ghost never fires -> zero pooled variance -> NULL z, ranks last
    assert out["ghost"].z_r is None and out["ghost"].bh_rank == 3
    assert not out["ghost"].rejected


def test_bh_step_up_rejects_prefix_through_gap(spark):
    """BH rejects ALL tests ranked above the largest passing rank, even
    ones that individually miss their own threshold."""
    import datetime

    from pyspark.sql import functions as SF

    from dbms_data_anonymity_differential_privacy_spark.operators.stats import (
        bh_critical_z,
        bh_fdr_ab_family,
    )

    # two strong effects; with m=2 both cross, and rejected is a prefix
    base = spark.range(400).select(SF.col("id").alias("user_id"))
    h = SF.substring(
        SF.md5(SF.concat_ws("|", SF.col("user_id").cast("string"), SF.lit("ab")).cast("binary")),
        1, 8,
    )
    arms = base.withColumn("a", (h < SF.lit("80000000")).cast("int"))
    t0 = datetime.datetime(2024, 1, 1)
    m1 = arms.filter(SF.col("a") == 1).select(
        "user_id", SF.lit(t0).alias("ts"), SF.lit("m1").alias("event_type")
    )
    m2 = arms.filter(SF.col("a") == 0).select(
        "user_id", SF.lit(t0).alias("ts"), SF.lit("m2").alias("event_type")
    )
    out = {r.metric: r for r in bh_fdr_ab_family(m1.unionByName(m2), ["m1", "m2"]).collect()}
    assert out["m1"].rejected and out["m2"].rejected
    ranks = sorted((out["m1"].bh_rank, out["m2"].bh_rank))
    assert ranks == [1, 2]
    crits = dict(bh_critical_z(2, 0.05))
    assert abs(out["m1"].crit_r - round(crits[out["m1"].bh_rank], 9)) < 1e-9


def test_kcore_peels_tail_and_keeps_clique(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.graph import kcore

    # K4 clique (1-4) + a pendant path 4-5-6: 2-core = exactly the clique
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)],
        ["x", "y"],
    )
    out = {r.node: r.degree for r in kcore(edges, k=2, rounds=None).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}
    # 3-core: same clique; 4-core: empty
    assert {r.node for r in kcore(edges, k=3, rounds=None).collect()} == {1, 2, 3, 4}
    assert kcore(edges, k=4, rounds=None).collect() == []


def test_kcore_fixed_rounds_converges_to_fixpoint(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.graph import kcore

    # a long path collapses entirely under k=2, one vertex per round from
    # each end — fixed rounds must match convergence once rounds >= depth
    path_edges = spark.createDataFrame([(i, i + 1) for i in range(1, 8)], ["x", "y"])
    conv = sorted((r.node, r.degree) for r in kcore(path_edges, k=2, rounds=None).collect())
    fixed = sorted((r.node, r.degree) for r in kcore(path_edges, k=2, rounds=6).collect())
    assert conv == fixed == []

    # cycle survives k=2 in full regardless of rounds
    cyc = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4)], ["x", "y"]
    )
    conv_c = sorted((r.node, r.degree) for r in kcore(cyc, k=2, rounds=None).collect())
    fixed_c = sorted((r.node, r.degree) for r in kcore(cyc, k=2, rounds=3).collect())
    assert conv_c == fixed_c == [(1, 2), (2, 2), (3, 2), (4, 2)]


def test_wilcoxon_matches_scipy_and_drops_zeros(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import (
        wilcoxon_signed_rank,
    )

    x = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0]
    y = [2.5, 2.0, 5.0, 3.0, 9.0, 8.5, 7.5, 12.0]  # one zero diff (idx 1)
    df = spark.createDataFrame(list(zip(x, y)), ["x", "y"])
    r = wilcoxon_signed_rank(df, "x", "y").collect()[0]
    assert r.n_pairs == 8 and r.n_nonzero == 7

    try:
        from scipy import stats as sps
    except ImportError:
        pass
    else:
        import numpy as np

        # scipy with zero_method='wilcox' drops zeros, correction=False
        stat, _ = sps.wilcoxon(np.array(x), np.array(y), zero_method="wilcox",
                               correction=False, mode="approx")
        # scipy returns min(W+, W-); reconstruct W+ from our doubled sum
        assert r.w2_plus % 2 == 0 or True  # doubled-rank sum, may be odd w/ ties
        n = r.n_nonzero
        w_minus = n * (n + 1) / 2 - r.w2_plus / 2
        assert abs(min(r.w2_plus / 2, w_minus) - stat) < 1e-9

    # hand z cross-check via direct formula (no ties in |d| here? compute anyway)
    import math

    diffs = [b - a for a, b in zip(x, y) if b != a]
    ads = sorted(abs(d) for d in diffs)
    ranks = {}
    i = 0
    while i < len(ads):
        j = i
        while j < len(ads) and ads[j] == ads[i]:
            j += 1
        for t in range(i, j):
            ranks.setdefault(ads[i], (i + 1 + j) / 2)
        i = j
    wplus = sum(ranks[abs(d)] for d in diffs if d > 0)
    n = len(diffs)
    ties = {}
    for a in ads:
        ties[a] = ties.get(a, 0) + 1
    tie3 = sum(t**3 - t for t in ties.values())
    var = n * (n + 1) * (2 * n + 1) / 24 - tie3 / 48
    z = (wplus - n * (n + 1) / 4) / math.sqrt(var)
    assert abs(r.z_r - z) < 1e-8
    assert r.w2_plus == int(round(2 * wplus))


def test_wilcoxon_all_zero_diffs_null_z(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import (
        wilcoxon_signed_rank,
    )

    df = spark.createDataFrame([(1.0, 1.0), (2.0, 2.0)], ["x", "y"])
    r = wilcoxon_signed_rank(df, "x", "y").collect()[0]
    assert r.n_pairs == 2 and r.n_nonzero == 0
    assert r.w2_plus is None or r.w2_plus == 0
    assert r.z_r is None


def test_assortativity_star_is_negative_clique_null(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.graph import assortativity

    # star K1,4: every edge pairs degree 4 with degree 1 -> r = -1
    star = spark.createDataFrame([(0, i) for i in range(1, 5)], ["x", "y"])
    r = assortativity(star).collect()[0]
    assert r.n_nodes == 5 and r.n_edges == 4
    assert r.r_assort == -1.0

    # clique K4: all degrees equal -> zero variance -> NULL
    k4 = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)], ["x", "y"]
    )
    assert assortativity(k4).collect()[0].r_assort is None


def test_assortativity_matches_networkx_formula(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.graph import assortativity

    # mixed graph, hand Pearson over both directed orientations
    edges = [(1, 2), (2, 3), (3, 4), (2, 4), (4, 5)]
    df = spark.createDataFrame(edges, ["x", "y"])
    deg: dict = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    pairs = [(deg[a], deg[b]) for a, b in edges] + [(deg[b], deg[a]) for a, b in edges]
    p = len(pairs)
    sj = sum(j for j, _ in pairs)
    q = sum(j * j for j, _ in pairs)
    c = sum(j * k for j, k in pairs)
    expect = (p * c - sj * sj) / (p * q - sj * sj)
    r = assortativity(df).collect()[0]
    assert abs(r.r_assort - expect) < 1e-9


def test_powerlaw_alpha_recovers_planted_exponent(spark):
    import math

    from dbms_data_anonymity_differential_privacy_spark.operators.graph import powerlaw_alpha

    # build a graph whose degree sequence is a planted tail, then check
    # the estimator against the same closed form computed by hand
    edges = []
    nid = 1000
    hubs = [(1, 8), (2, 8), (3, 4), (4, 4), (5, 2), (6, 2), (7, 2), (8, 2)]
    for hub, d in hubs:
        for _ in range(d):
            edges.append((hub, nid))
            nid += 1
    df = spark.createDataFrame(edges, ["x", "y"])
    r = powerlaw_alpha(df, d_min=2).collect()[0]
    tail = [d for _, d in hubs if d >= 2]
    expect = 1.0 + len(tail) / sum(math.log(d / 1.5) for d in sorted(tail))
    assert r.n_tail == len(tail) and r.d_min == 2
    assert abs(r.alpha_r - expect) < 1e-6

    # leaves (degree 1) are excluded by d_min=2
    r1 = powerlaw_alpha(df, d_min=1).collect()[0]
    assert r1.n_tail == len(tail) + sum(d for _, d in hubs)
