"""Round-6 operators: skyline, link prediction,
rank statistics, permutation tests, quantile normalization, label
propagation, isotonic calibration, association rules."""

from __future__ import annotations

import itertools
import math
import random

import pytest
from pyspark.sql import functions as F

from tests.conftest import *  # noqa: F401,F403 — spark/sf fixtures


def _brute_skyline(points):
    """All-pairs dominance reference: p survives iff no q >= p everywhere
    and > p somewhere."""
    out = []
    for p in points:
        dominated = any(
            all(qq >= pp for qq, pp in zip(q, p))
            and any(qq > pp for qq, pp in zip(q, p))
            for q in points
        )
        if not dominated:
            out.append(p)
    return sorted(out)


def test_skyline_2d_matches_bruteforce(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.skyline import skyline_2d

    rng = random.Random(7)
    pts = [(rng.randint(0, 30) * 1.0, rng.randint(0, 30) * 1.0) for _ in range(400)]
    # Force tie rows: duplicate a frontier-ish point verbatim.
    pts += [(30.0, 30.0), (30.0, 30.0)]
    df = spark.createDataFrame(
        [(a, b, i) for i, (a, b) in enumerate(pts)], ["a", "b", "pid"]
    )
    got = sorted(
        (r.a, r.b) for r in skyline_2d(df, "a", "b", payload=["pid"]).collect()
    )
    assert got == _brute_skyline(pts)


def test_skyline_2d_keeps_all_tie_payloads(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.skyline import skyline_2d

    pts = [(1.0, 5.0, 1), (1.0, 5.0, 2), (5.0, 1.0, 3), (0.5, 0.5, 4)]
    df = spark.createDataFrame(pts, ["a", "b", "pid"])
    got = {r.pid for r in skyline_2d(df, "a", "b", payload=["pid"]).collect()}
    assert got == {1, 2, 3}


@pytest.mark.parametrize("k", [2, 3, 4])
def test_skyline_kd_matches_bruteforce(spark, k):
    from dbms_data_anonymity_differential_privacy_spark.operators.skyline import skyline_kd

    rng = random.Random(k)
    pts = [tuple(float(rng.randint(0, 8)) for _ in range(k)) for _ in range(250)]
    cols = [f"d{i}" for i in range(k)]
    df = spark.createDataFrame([(*p, i) for i, p in enumerate(pts)], [*cols, "pid"])
    got = sorted(
        tuple(r[c] for c in cols) for r in skyline_kd(df, cols, payload=["pid"]).collect()
    )
    assert got == _brute_skyline(pts)


def test_adamic_adar_matches_bruteforce(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.graph import adamic_adar

    # path graph 1-2-3-4-5 plus edge 2-4: known common-neighbor structure
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (2, 4)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = {(r.u, r.v): (r.cn, r.aa_r) for r in adamic_adar(df, top=100).collect()}

    deg = {1: 1, 2: 3, 3: 2, 4: 3, 5: 1}
    adj = {(a, b) for a, b in edges} | {(b, a) for a, b in edges}
    nodes = sorted(deg)
    exp = {}
    for i, u in enumerate(nodes):
        for v in nodes[i + 1:]:
            if (u, v) in adj:
                continue
            common = [
                w for w in nodes if (u, w) in adj and (v, w) in adj
            ]
            if common:
                exp[(u, v)] = (
                    len(common),
                    round(sum(1.0 / math.log(deg[w]) for w in common), 6),
                )
    assert out == exp


def test_kruskal_wallis_matches_bruteforce(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import kruskal_wallis

    rows = (
        [("a", v) for v in [1.0, 2.0, 2.0, 5.0]]
        + [("b", v) for v in [2.0, 4.0, 6.0]]
        + [("c", v) for v in [3.0, 3.0, 7.0, 8.0, 8.0]]
    )
    df = spark.createDataFrame(rows, ["g", "v"])
    out = kruskal_wallis(df, "v", "g").collect()[0]

    # brute force with midranks
    vals = sorted(v for _, v in rows)
    rank = {}
    i = 0
    while i < len(vals):
        j = i
        while j < len(vals) and vals[j] == vals[i]:
            j += 1
        rank[vals[i]] = (i + 1 + j) / 2.0
        i = j
    n = len(rows)
    groups = {}
    for g, v in rows:
        groups.setdefault(g, []).append(rank[v])
    s = sum(sum(rs) ** 2 / len(rs) for rs in groups.values())
    h = 12.0 / (n * (n + 1)) * s - 3 * (n + 1)
    from collections import Counter

    t3 = sum(t**3 - t for t in Counter(vals).values())
    h_tie = h / (1 - t3 / (n**3 - n))
    assert out.n_total == n and out.k_groups == 3
    assert abs(out.h_r - round(h, 9)) < 1e-9
    assert abs(out.h_tie_r - round(h_tie, 9)) < 1e-9


def test_cliffs_delta_matches_bruteforce(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import cliffs_delta

    a_vals = [1.0, 3.0, 3.0, 7.0, 9.0]
    b_vals = [2.0, 3.0, 5.0, 5.0]
    rows = [("a", v) for v in a_vals] + [("b", v) for v in b_vals]
    df = spark.createDataFrame(rows, ["g", "v"])
    out = cliffs_delta(df, "v", "g", "a", "b").collect()[0]

    wins_a = sum(1 for x in a_vals for y in b_vals if x > y)
    wins_b = sum(1 for x in a_vals for y in b_vals if x < y)
    ties = sum(1 for x in a_vals for y in b_vals if x == y)
    assert (out.wins_a, out.wins_b, out.ties) == (wins_a, wins_b, ties)
    assert out.n_a == 5 and out.n_b == 4
    assert abs(out.delta_r - round((wins_a - wins_b) / 20.0, 9)) < 1e-12


def test_permutation_test_matches_bruteforce(spark):
    import hashlib

    from dbms_data_anonymity_differential_privacy_spark.operators.stats import permutation_test_means

    rng = random.Random(3)
    rows = [(u, float(rng.randint(0, 20))) for u in range(40) for _ in range(2)]
    df = spark.createDataFrame(rows, ["u", "v"])
    out = permutation_test_means(df, "v", "u", n_perms=19).collect()[0]

    sums = {}
    for u, v in rows:
        sums[u] = sums.get(u, 0.0) + v

    def treat(u, p):
        h = hashlib.md5(f"{u}|{p}|permtest".encode()).hexdigest()[:8]
        return h < "80000000"

    def diff(p):
        t = [x for u, x in sums.items() if treat(u, p)]
        c = [x for u, x in sums.items() if not treat(u, p)]
        return sum(t) / len(t) - sum(c) / len(c)

    obs = diff(0)
    hits = sum(1 for p in range(1, 20) if abs(diff(p)) >= abs(obs))
    assert out.n_units == 40 and out.n_perms == 19
    assert abs(out.obs_diff_r - round(obs, 6)) < 1e-9
    assert abs(out.p_value_r - round((1 + hits) / 20.0, 6)) < 1e-9


def test_quantile_normalize_invariants(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.features import quantile_normalize

    rng = random.Random(11)
    # group "hi" shifted +100 vs group "lo": qnorm must erase the shift
    rows = [(i, "lo", float(rng.randint(0, 50))) for i in range(60)] + [
        (i + 100, "hi", float(rng.randint(100, 150))) for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["rid", "g", "v"])
    out = quantile_normalize(df, "v", "g", id_cols=["rid"]).collect()
    assert len(out) == 120
    by_g = {}
    for r in out:
        by_g.setdefault(r.g, []).append((r.v, r.qnorm))
    pooled = sorted(v for _, _, v in rows)
    for g, pairs in by_g.items():
        # qnorm values are drawn from the pooled domain
        assert all(q in pooled for _, q in pairs)
        # rank order within group is preserved
        pairs.sort()
        qs = [q for _, q in pairs]
        assert qs == sorted(qs)
    # equal group sizes: both groups map onto near-identical references
    assert sorted(q for _, q in by_g["lo"]) == sorted(q for _, q in by_g["hi"])


def test_label_propagation_two_cliques(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.graph import label_propagation

    # two 4-cliques joined by one bridge edge: communities must separate
    def clique(nodes):
        return [(a, b) for i, a in enumerate(nodes) for b in nodes[i + 1:]]

    edges = clique([1, 2, 3, 4]) + clique([10, 11, 12, 13]) + [(4, 10)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = {r.node: r.community for r in label_propagation(df, iters=3).collect()}
    assert set(out) == {1, 2, 3, 4, 10, 11, 12, 13}
    left = {out[n] for n in [1, 2, 3]}
    right = {out[n] for n in [11, 12, 13]}
    assert len(left) == 1 and len(right) == 1 and left != right


def test_isotonic_calibration_pava_properties(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.features import (
        isotonic_calibration,
    )

    rng = random.Random(5)
    # noisy monotone-ish relationship between score and outcome
    rows = []
    for _ in range(600):
        s = rng.random()
        y = 1 if rng.random() < 0.2 + 0.6 * s else 0
        rows.append((s, y))
    df = spark.createDataFrame(rows, ["score", "y"])
    out = sorted(
        isotonic_calibration(df, "score", F.col("y"), n_bins=12).collect(),
        key=lambda r: r.bin,
    )
    iso = [r.iso_r for r in out]
    # monotone non-decreasing
    assert all(a <= b + 1e-12 for a, b in zip(iso, iso[1:]))
    # weighted mean preserved exactly (PAVA projects onto monotone cone)
    tot_pos = sum(r.pos for r in out)
    tot_n = sum(r.n for r in out)
    assert abs(sum(r.iso_r * r.n for r in out) - tot_pos) < 1e-6 * tot_n
    # fitted values bounded by [0, 1] and pool means where violated
    assert all(0.0 <= v <= 1.0 for v in iso)

    # exact equality with the minimax characterization
    pos = [r.pos for r in out]
    ns = [r.n for r in out]
    k = len(out)
    for i in range(k):
        best = max(
            min(
                sum(pos[j : kk + 1]) / sum(ns[j : kk + 1])
                for kk in range(i, k)
            )
            for j in range(i + 1)
        )
        assert abs(out[i].iso_r - round(best, 9)) < 1e-9


def test_stream_stream_join_matches_batch(spark, tmp_path):
    import shutil

    from dbms_data_anonymity_differential_privacy_spark.sources.readers import load_table
    from dbms_data_anonymity_differential_privacy_spark.streaming.anonymize import events_readstream
    from dbms_data_anonymity_differential_privacy_spark.streaming.joins import (
        click_purchase_pairs_batch,
        click_purchase_pairs_stream,
    )

    sf0001 = "/root/testdata/sf0.001"
    ev = load_table(spark, sf0001, "events")
    batch = {
        (r.user_id, r.click_id, r.purchase_id, r.lag_sec)
        for r in click_purchase_pairs_batch(ev).collect()
    }

    stream_dir = tmp_path / "events"
    stream_dir.mkdir()
    shutil.copy(f"{sf0001}/events.parquet", stream_dir / "part-000.parquet")
    stream = click_purchase_pairs_stream(events_readstream(spark, str(stream_dir)))
    q = (
        stream.writeStream.format("memory")
        .queryName("ss_join_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.click_id, r.purchase_id, r.lag_sec)
        for r in spark.sql("SELECT * FROM ss_join_test").collect()
    }
    assert got == batch
    assert len(batch) > 0


def test_bootstrap_ci_matches_bruteforce(spark):
    import hashlib

    from dbms_data_anonymity_differential_privacy_spark.operators.stats import (
        bootstrap_ci_mean,
        poisson1_thresholds_hex,
    )

    rng = random.Random(9)
    rows = [(u, float(rng.randint(1, 30))) for u in range(50)]
    df = spark.createDataFrame(rows, ["u", "v"])
    out = bootstrap_ci_mean(df, "v", "u", n_boot=40).collect()[0]

    th = poisson1_thresholds_hex()

    def weight(u, b):
        h = hashlib.md5(f"{u}|{b}|boot".encode()).hexdigest()[:8]
        for k, t in enumerate(th):
            if h < t:
                return k
        return len(th)

    sums = dict(rows)
    means = []
    for b in range(1, 41):
        num = sum(weight(u, b) * x for u, x in sums.items())
        den = sum(weight(u, b) for u in sums)
        means.append(num / den)
    means.sort()
    assert out.n_units == 50 and out.n_boot == 40
    assert abs(out.mean_r - round(sum(sums.values()) / 50, 6)) < 1e-9
    assert abs(out.lo95_r - round(means[0], 6)) < 1e-9  # ceil(0.025*40)=1
    assert abs(out.hi95_r - round(means[38], 6)) < 1e-9  # ceil(0.975*40)=39
    assert out.lo95_r <= out.mean_r <= out.hi95_r


def test_label_propagation_driver_matches_distributed(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.graph import label_propagation

    rng = random.Random(21)
    edges = list({(rng.randint(0, 60), rng.randint(0, 60)) for _ in range(150)})
    edges = [(a, b) for a, b in edges if a < b]
    df = spark.createDataFrame(edges, ["src", "dst"])
    fast = {
        (r.node, r.community)
        for r in label_propagation(df, iters=3).collect()
    }
    dist = {
        (r.node, r.community)
        for r in label_propagation(df, iters=3, driver_threshold=0).collect()
    }
    assert fast == dist and len(fast) > 0


def test_textrank_hub_word_wins(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.text import textrank_keywords

    # 'hub' co-occurs with every other word; it must rank first
    docs = [
        ("hub alpha hub beta",),
        ("gamma hub delta",),
        ("hub epsilon",),
        ("alpha beta",),
    ]
    df = spark.createDataFrame(docs, ["text"])
    out = textrank_keywords(df, iters=10, top=10).collect()
    assert out[0].word == "hub"
    assert all(out[i].rank_ppb >= out[i + 1].rank_ppb for i in range(len(out) - 1))
    words = {r.word for r in out}
    assert {"alpha", "beta", "gamma", "delta", "epsilon"} <= words


def test_theil_index_properties(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import theil_index

    rows = [("eq", 5.0)] * 8 + [("uneq", 0.001)] * 7 + [("uneq", 100.0)]
    df = spark.createDataFrame(rows, ["g", "v"])
    out = {r.g: r for r in theil_index(df, "v", ["g"]).collect()}
    # perfect equality -> 0
    assert abs(out["eq"].theil_r) < 1e-9
    # extreme concentration -> near ln(n) = ln(8)
    assert out["uneq"].theil_r > 0.9 * math.log(8)
    # brute force check
    vals = [0.001] * 7 + [100.0]
    mu = sum(vals) / len(vals)
    t = sum((v / mu) * math.log(v / mu) for v in vals) / len(vals)
    assert abs(out["uneq"].theil_r - round(t, 6)) < 1e-6


def test_bfs_profile_path_graph(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.graph import bfs_profile

    # path 1-2-3-4-5-6: landmark 1 sees one node per hop
    edges = [(i, i + 1) for i in range(1, 6)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = {
        (r.landmark, r.dist): r.n_nodes
        for r in bfs_profile(df, n_landmarks=2, max_depth=3).collect()
    }
    # landmarks are the 2 smallest nodes: 1 and 2
    assert out[(1, 0)] == 1 and out[(1, 1)] == 1 and out[(1, 2)] == 1 and out[(1, 3)] == 1
    assert (1, 4) not in out  # depth bound respected
    assert out[(2, 0)] == 1 and out[(2, 1)] == 2  # nodes 1 and 3
    assert out[(2, 2)] == 1 and out[(2, 3)] == 1


def test_bfs_profile_matches_bruteforce(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.graph import bfs_profile

    rng = random.Random(31)
    edges = list({(rng.randint(0, 50), rng.randint(0, 50)) for _ in range(120)})
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, ["src", "dst"])
    fast = {
        (r.landmark, r.dist, r.n_nodes)
        for r in bfs_profile(df, n_landmarks=3, max_depth=3).collect()
    }
    # pin against a brute-force BFS (the distributed and driver paths
    # share the same fixture-checked formulation; the oracle twin covers
    # the distributed SQL replay)
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    exp = set()
    for lm in sorted(adj)[:3]:
        dist = {lm: 0}
        frontier = [lm]
        for d in range(1, 4):
            nxt = []
            for u in frontier:
                for v in adj[u]:
                    if v not in dist:
                        dist[v] = d
                        nxt.append(v)
            frontier = nxt
        from collections import Counter

        for dd, cnt in Counter(dist.values()).items():
            exp.add((lm, dd, cnt))
    assert fast == exp


def test_mahalanobis_matches_bruteforce(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import mahalanobis_outliers

    rng = random.Random(13)
    rows = []
    for i in range(200):
        x = rng.gauss(0, 1)
        rows.append((i, x, 2 * x + rng.gauss(0, 0.3)))
    rows.append((999, 3.0, -6.0))  # joint outlier: against the correlation
    df = spark.createDataFrame(rows, ["rid", "x", "y"])
    out = mahalanobis_outliers(df, "x", "y", ["rid"], top=5).collect()
    assert out[0].rid == 999  # the anti-correlated point dominates

    # brute-force d2 with numpy
    import numpy as np

    arr = np.array([(x, y) for _, x, y in rows])
    mu = arr.mean(axis=0)
    cov = np.cov(arr.T, bias=True)
    inv = np.linalg.inv(cov)
    d = arr - mu
    d2 = np.einsum("ij,jk,ik->i", d, inv, d)
    exp_top = sorted(
        zip((r[0] for r in rows), d2), key=lambda t: (-round(t[1], 6), t[0])
    )[:5]
    for got, (rid, dd) in zip(out, exp_top):
        assert got.rid == rid
        assert abs(got.d2_r - round(dd, 6)) < 1e-5


def test_sequential_ab_matches_bruteforce(spark):
    import datetime
    import hashlib

    from dbms_data_anonymity_differential_privacy_spark.operators.stats import OBF_C, sequential_ab

    rng = random.Random(17)
    base = datetime.datetime(2024, 1, 1)
    rows = []
    for u in range(120):
        first = base + datetime.timedelta(hours=rng.randint(0, 500))
        rows.append((u, first, "view"))
        if rng.random() < 0.4:
            rows.append(
                (u, first + datetime.timedelta(hours=rng.randint(1, 200)), "purchase")
            )
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    looks = ["2024-01-08 00:00:00", "2024-01-15 00:00:00", "2024-01-22 00:00:00"]
    out = {r.look: r for r in sequential_ab(df, looks).collect()}

    def arm_a(u):
        return hashlib.md5(f"{u}|ab".encode()).hexdigest()[:8] < "80000000"

    users = {}
    for u, ts, t in rows:
        e = users.setdefault(u, {"first": ts, "conv": None})
        e["first"] = min(e["first"], ts)
        if t == "purchase":
            e["conv"] = ts if e["conv"] is None else min(e["conv"], ts)
    for k, cut_s in enumerate(looks, 1):
        cut = datetime.datetime.fromisoformat(cut_s)
        ents = {u: e for u, e in users.items() if e["first"] <= cut}
        n_a = sum(1 for u in ents if arm_a(u))
        n_b = len(ents) - n_a
        ca = sum(1 for u, e in ents.items() if arm_a(u) and e["conv"] and e["conv"] <= cut)
        cb = sum(1 for u, e in ents.items() if not arm_a(u) and e["conv"] and e["conv"] <= cut)
        r = out[k]
        assert (r.n_a, r.n_b, r.conv_a, r.conv_b) == (n_a, n_b, ca, cb)
        pool = (ca + cb) / (n_a + n_b)
        se = math.sqrt(pool * (1 - pool) * (1 / n_a + 1 / n_b))
        z = (ca / n_a - cb / n_b) / se
        bound = OBF_C[3] * math.sqrt(3 / k)
        assert abs(r.z_r - round(z, 9)) < 1e-9
        assert abs(r.bound_r - round(bound, 9)) < 1e-9
        assert r.reject == (abs(z) >= bound)
    # boundary ladder is decreasing: early looks demand more evidence
    assert out[1].bound_r > out[2].bound_r > out[3].bound_r


def test_deletion_impact_plan_counts(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.integrity import deletion_impact_plan

    rows = [(u, p) for p in ("a", "b") for u in range(10)] + [(99, "c")]
    df = spark.createDataFrame(rows, ["uid", "part"])
    subj = spark.createDataFrame([(3,), (7,), (99,), (1234,)], ["uid"])
    out = {
        r.part: r
        for r in deletion_impact_plan(
            df, subj, "uid", F.col("part"), partition_name="part"
        ).collect()
    }
    assert out["a"].n_rows == 10 and out["a"].affected_rows == 2
    assert out["a"].affected_ppm == 200000 and out["a"].must_rewrite
    assert out["c"].affected_rows == 1 and out["c"].must_rewrite
    assert out["b"].affected_ppm == 200000


def test_join_cardinality_profile_exact(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.integrity import (
        join_cardinality_profile,
    )

    left = spark.createDataFrame([(k,) for k in [1, 1, 2, 3, 3, 3]], ["k"])
    right = spark.createDataFrame([(k,) for k in [1, 3, 3, 4]], ["k"])
    rows = join_cardinality_profile(left, right, "k", "k", top=5).collect()
    by_key = {r.key: r for r in rows}
    # key 3: 3*2=6 pairs; key 1: 2*1=2; key 2 and 4 don't overlap
    assert by_key[3].pairs == 6 and by_key[1].pairs == 2
    assert 2 not in by_key and 4 not in by_key
    total = by_key[None]
    assert total.pairs == 8  # exact |A join B|
    # verify against the actual join
    assert left.join(right, on="k").count() == 8


def test_kcenter_coreset_matches_bruteforce(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.embeddings import kcenter_coreset

    rng = random.Random(41)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    out = [(r.round, r.vec_id, r.dist_r) for r in kcenter_coreset(df, k=5).collect()]
    out.sort()

    # brute-force greedy with the same expansion
    def dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    pool = {i: v for i, v in vecs}
    xx = {i: dot(v, v) for i, v in vecs}
    chosen = [min(pool)]
    exp = [(1, chosen[0], None)]
    d = {i: xx[i] - 2 * dot(pool[i], pool[chosen[0]]) + xx[chosen[0]] for i in pool}
    for r in range(2, 6):
        far = min(pool, key=lambda i: (-d[i], i))
        exp.append((r, far, round(d[far], 6)))
        nd = {i: xx[i] - 2 * dot(pool[i], pool[far]) + xx[far] for i in pool}
        d = {i: min(d[i], nd[i]) for i in pool}
    assert out == sorted(exp)
    # coverage radius is non-increasing after round 2
    radii = [t[2] for t in out if t[2] is not None]
    assert all(a >= b - 1e-9 for a, b in zip(radii, radii[1:]))


def test_feature_hashing_matches_bruteforce(spark):
    import hashlib

    from dbms_data_anonymity_differential_privacy_spark.operators.text import feature_hashing

    docs = [(1, "apple banana apple"), (2, "banana cherry"), (3, "  apple  ")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {(r.doc_id, r.bucket): r.feat for r in feature_hashing(df, n_buckets=16).collect()}

    exp = {}
    for did, text in docs:
        for w in text.strip().lower().split():
            h = hashlib.md5(w.encode()).hexdigest()
            b = int(h[:8], 16) % 16
            s = 1 if h[8] < "8" else -1
            exp[(did, b)] = exp.get((did, b), 0) + s
    exp = {k: v for k, v in exp.items() if v != 0}
    assert out == exp


def test_streaming_heavy_hitters_matches_sequential_fold(spark, tmp_path):
    import shutil

    from dbms_data_anonymity_differential_privacy_spark.sources.readers import load_table
    from dbms_data_anonymity_differential_privacy_spark.streaming.anonymize import events_readstream
    from dbms_data_anonymity_differential_privacy_spark.streaming.stateful import heavy_hitters_stateful

    sf0001 = "/root/testdata/sf0.001"
    k = 6
    stream_dir = tmp_path / "events"
    stream_dir.mkdir()
    shutil.copy(f"{sf0001}/events.parquet", stream_dir / "part-000.parquet")
    # Force tiny Arrow chunks so every group spans MANY pdf chunks inside
    # applyInPandasWithState — exercising the concat-then-sort-once path
    # (a per-chunk sort would break batch-wide event-time order here).
    batch_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev_batch = spark.conf.get(batch_key)
    spark.conf.set(batch_key, "64")
    try:
        q = (
            heavy_hitters_stateful(events_readstream(spark, str(stream_dir)), k=k)
            .writeStream.format("memory")
            .queryName("mg_stream_test")
            .outputMode("update")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set(batch_key, prev_batch)
    rows = spark.sql("SELECT * FROM mg_stream_test").collect()
    # update mode: the emission with the max n_seen per group is final
    latest_n = {}
    for r in rows:
        latest_n[r.event_type] = max(latest_n.get(r.event_type, 0), r.n_seen)
    final = {}
    for r in rows:
        if r.n_seen == latest_n[r.event_type]:
            final.setdefault(r.event_type, {})[r.item] = r.count_lb

    # sequential reference MG over ts-ordered events (user_id tiebreak —
    # the same deterministic order the stateful fold applies per batch)
    ev = load_table(spark, sf0001, "events").orderBy("ts", "user_id").collect()
    ref = {}
    n_by_g = {}
    for e in ev:
        g, item = e.event_type, int(e.user_id)
        sk = ref.setdefault(g, {})
        n_by_g[g] = n_by_g.get(g, 0) + 1
        if item in sk:
            sk[item] += 1
        elif len(sk) < k:
            sk[item] = 1
        else:
            ref[g] = {i: c - 1 for i, c in sk.items() if c > 1}
    assert final == ref
    # MG guarantee: tracked count underestimates by at most n/k
    for g, sk in final.items():
        assert all(c >= 1 for c in sk.values())
        assert len(sk) <= k


# ---------------------------------------------------------------------------
# exact=True (driver C-libm table, the oracle default) vs exact=False
# (JVM F.log in codegen, the production mode — zero driver
# materialization). JVM Math.log differs from libm by <=1 ulp on ~1e-4 of
# inputs, so after the in-query ROUND the two modes must agree to 1e-9
# relative — the contract that lets a 100 TB run skip the log-table
# collect entirely.
# ---------------------------------------------------------------------------


def _rel_close(a, b, tol=1e-9):
    if a is None or b is None:
        return a is None and b is None
    return abs(a - b) <= tol * max(1.0, abs(a), abs(b))


def test_tfidf_exact_and_jvm_modes_agree(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.text import tfidf_topk
    from dbms_data_anonymity_differential_privacy_spark.sources.readers import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    key = lambda r: (r.doc_id, r.term)
    ex = {key(r): (r.tf, r.df_docs, r.tfidf_r, r.rnk) for r in tfidf_topk(docs).collect()}
    jv = {
        key(r): (r.tf, r.df_docs, r.tfidf_r, r.rnk)
        for r in tfidf_topk(docs, exact=False).collect()
    }
    # ranks could only differ if a 6-dp-rounded score flipped across modes
    assert ex == jv


def test_jsd_exact_and_jvm_modes_agree(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.text import jsd_divergence
    from dbms_data_anonymity_differential_privacy_spark.sources.readers import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    srcs = [r[0] for r in docs.select("source").distinct().orderBy("source").collect()]
    a, b = srcs[0], srcs[1]
    ex = jsd_divergence(docs, a, b, top_k=100).collect()[0]
    jv = jsd_divergence(docs, a, b, top_k=100, exact=False).collect()[0]
    assert (ex.n_terms, ex.a_total, ex.b_total) == (jv.n_terms, jv.a_total, jv.b_total)
    for f in ("jsd_r", "jsd_norm_r"):
        assert _rel_close(ex[f], jv[f]), (f, ex[f], jv[f])


def test_dp_noise_moments_match_closed_form_across_scales(spark):
    """The Laplace moment audit holds at several epsilons — m2 tracks the
    closed-form 2b^2, so a scale miscalibration (the bug class this
    query exists to catch) fails here before it reaches the oracle."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_noise_moments

    for eps in (0.5, 1.0, 4.0):
        r = dp_noise_moments(spark, n_groups=1000, epsilon=eps).collect()[0]
        b = 1.0 / eps
        assert r.n_groups == 1000
        assert r.mean_ok and r.m2_ok and r.frac_ok, (eps, r)
        assert abs(r.m2_r - 2.0 * b * b) <= 0.3 * 2.0 * b * b
        assert abs(r.frac_small_r - 0.5) <= 0.1
        # deterministic re-run: identical release (hash-derived noise)
        r2 = dp_noise_moments(spark, n_groups=1000, epsilon=eps).collect()[0]
        assert r == r2


def test_jaccard_adaptive_switch_on_zipfian_boilerplate(spark):
    """Adversarial fixture for the adaptive inverted-index vs rare-first
    prefix-filter switch (operators/dedup.py): a pathological Zipfian
    corpus where one boilerplate sentence sits in 90% of documents. The
    hot shingles' df^2 pair volume is THE blowup mode on web corpora, so
    the adaptive decision (prefix_filter=None) must pick the prefix
    path — observable as the exact re-score's array_intersect in the
    physical plan — and produce EXACTLY the pairs both forced strategies
    produce. A benign unique-content corpus must keep the plain path."""
    import random

    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import ngram_jaccard_pairs

    rng = random.Random(11)
    boiler = "subscribe to our newsletter for updates and offers today"
    docs = []
    for i in range(200):
        unique = " ".join(f"w{rng.randint(0, 10_000)}" for _ in range(10))
        # 90% boilerplate-infested; near-dup mass comes from doc pairs
        # sharing the boilerplate AND half their unique tail
        if i % 10 != 9:
            docs.append((i, f"{boiler} {unique}"))
        else:
            docs.append((i, unique))
    # a handful of true near-dups
    docs += [(1000, docs[0][1]), (1001, docs[3][1] + " extra")]
    sdf = spark.createDataFrame(docs, "doc_id long, text string")

    def plan(df):
        jm = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        return df._jdf.queryExecution().explainString(jm)

    adaptive = ngram_jaccard_pairs(sdf, threshold=0.5, n=3)
    assert "array_intersect" in plan(adaptive), "Zipfian corpus: prefix path not chosen"
    got_adaptive = {(r.id_a, r.id_b, r.jaccard) for r in adaptive.collect()}
    got_prefix = {
        (r.id_a, r.id_b, r.jaccard)
        for r in ngram_jaccard_pairs(sdf, threshold=0.5, n=3, prefix_filter=True).collect()
    }
    got_plain = {
        (r.id_a, r.id_b, r.jaccard)
        for r in ngram_jaccard_pairs(sdf, threshold=0.5, n=3, prefix_filter=False).collect()
    }
    assert got_adaptive == got_prefix == got_plain
    assert (0, 1000, 1.0) in {(a, b, j) for a, b, j in got_plain}

    # benign corpus: all-unique content -> plain inverted index stays
    benign = spark.createDataFrame(
        [(i, " ".join(f"u{i}_{j}" for j in range(12))) for i in range(100)],
        "doc_id long, text string",
    )
    assert "array_intersect" not in plan(ngram_jaccard_pairs(benign, threshold=0.5, n=3))


def test_partition_count_memoizes_by_semantic_hash(spark):
    """The partition-count probe memoizes by semantic hash (no repeated
    plan->RDD conversions in composition loops)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.util import (
        _PARTITION_COUNT_CACHE,
        _partition_count,
    )

    _PARTITION_COUNT_CACHE.clear()
    df = spark.range(0, 1000, 1, 4)
    n1 = _partition_count(df)
    n2 = _partition_count(df.select("*"))
    assert n1 == n2 == 4
    assert len(_PARTITION_COUNT_CACHE) == 1


def test_leakage_safe_split_never_splits_near_dups(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import leakage_safe_split
    from dbms_data_anonymity_differential_privacy_spark.sources.readers import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    out = leakage_safe_split(docs, threshold=0.2, n=3, valid_frac=0.1)
    rows = out.collect()
    assert len(rows) == docs.count()
    side = {r.doc_id: r.split for r in rows}
    comp = {r.doc_id: r.component for r in rows}
    # every member of a component lands on the SAME side
    by_comp = {}
    for d, c in comp.items():
        by_comp.setdefault(c, set()).add(side[d])
    assert all(len(s) == 1 for s in by_comp.values())
    # split fraction lands near 10% of COMPONENTS (hash fraction contract)
    comps = set(comp.values())
    v = sum(1 for c in comps if side[next(d for d in comp if comp[d] == c)] == "valid")
    assert 0.03 <= v / len(comps) <= 0.20
    # determinism
    rows2 = {(r.doc_id, r.component, r.split) for r in
             leakage_safe_split(docs, threshold=0.2, n=3, valid_frac=0.1).collect()}
    assert rows2 == {(r.doc_id, r.component, r.split) for r in rows}


def test_powerlaw_exact_and_jvm_modes_agree(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.graph import powerlaw_alpha
    from dbms_data_anonymity_differential_privacy_spark.sources.readers import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    o = load_table(spark, "/root/testdata/sf0.001", "orders")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(F.col("l_suppkey").alias("x"), F.col("o_custkey").alias("y"))
        .distinct()
    )
    ex = powerlaw_alpha(edges).collect()[0]
    jv = powerlaw_alpha(edges, exact=False).collect()[0]
    assert ex.n_tail == jv.n_tail and ex.d_min == jv.d_min
    assert abs(ex.alpha_r - jv.alpha_r) <= 1e-9 * max(1.0, abs(ex.alpha_r))


def test_semantic_dedup_collapses_clusters(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import semantic_dedup

    # two exact-duplicate clusters + two singletons, one block
    rows = [
        (1, "b", [1.0, 0.0, 0.0]),
        (2, "b", [1.0, 0.0, 0.0]),       # dup of 1
        (3, "b", [0.9999, 0.01, 0.0]),   # near-dup of 1/2
        (4, "b", [0.0, 1.0, 0.0]),       # singleton
        (5, "c", [1.0, 0.0, 0.0]),       # same vector, DIFFERENT block
    ]
    df = spark.createDataFrame(rows, "vec_id long, label string, embedding array<double>")
    out = {r.vec_id: (r.component, r.kept) for r in
           semantic_dedup(df, threshold=0.99, block_col="label").collect()}
    assert out[1] == (1, True)
    assert out[2] == (1, False)
    assert out[3] == (1, False)
    assert out[4] == (4, True)
    # blocking is a hard boundary: 5 never pairs with 1 despite cos=1
    assert out[5] == (5, True)
    assert len(out) == 5


def test_dp_gaussian_noise_moments_match_closed_form(spark):
    from statistics import NormalDist

    from dbms_data_anonymity_differential_privacy_spark.operators.dp import (
        dp_noise_moments,
        gaussian_sigma,
    )

    import pytest

    r = dp_noise_moments(spark, mechanism="gaussian", epsilon=0.5).collect()[0]
    sigma = gaussian_sigma(0.5, 1e-6, 1.0)
    assert r.n_groups == 1000
    assert r.scale_r == round(sigma, 6)
    assert r.mean_ok and r.m2_ok and r.frac_ok, r
    assert abs(r.m2_r - sigma * sigma) <= 0.3 * sigma * sigma
    assert abs(r.frac_small_r - 0.5) <= 0.1
    # the |X| median check pins the probit constant too
    assert NormalDist().inv_cdf(0.75) == 0.6744897501960817
    r2 = dp_noise_moments(spark, mechanism="gaussian", epsilon=0.5).collect()[0]
    assert r == r2
    # the audit must audit the REQUESTED calibration — epsilon outside
    # the classic mechanism's (0, 1) domain is rejected, never silently
    # capped (the release row would otherwise hide the substitution)
    with pytest.raises(ValueError):
        dp_noise_moments(spark, mechanism="gaussian", epsilon=1.0)
