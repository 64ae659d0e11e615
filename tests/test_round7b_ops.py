"""Round-7 second-wave operator tests: winnowing fingerprints (x178),
Pettitt changepoint (x179), MMR re-ranking (x180), embedding drift (x181).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbms_data_anonymity_differential_privacy_spark.operators.dedup import (
    winnow_fingerprints,
    winnow_match_pairs,
)
from dbms_data_anonymity_differential_privacy_spark.operators.embeddings import embedding_drift
from dbms_data_anonymity_differential_privacy_spark.operators.similarity import (
    mmr_rerank,
    mmr_rerank_embeddings,
)
from dbms_data_anonymity_differential_privacy_spark.operators.stats import pettitt_test


# ---------------------------------------------------------------------------
# X178 winnowing
# ---------------------------------------------------------------------------

K, W = 4, 4
GUARANTEE = W + K - 1  # any shared passage this long must share a fingerprint


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id LONG, text STRING"
    )


def test_winnow_coverage_guarantee(spark):
    """The paper's theorem: two documents sharing a passage of
    >= w + k - 1 tokens share at least one selected fingerprint —
    checked for a passage planted at different offsets in otherwise
    disjoint documents."""
    passage = " ".join(f"shared{i}" for i in range(GUARANTEE))
    for prefix_len in (0, 1, 5, 9):
        a_prefix = " ".join(f"aa{i}" for i in range(prefix_len))
        b_prefix = " ".join(f"bb{i}" for i in range(17))
        a = (a_prefix + " " + passage + " " + "atail0 atail1").strip()
        b = (b_prefix + " " + passage).strip()
        fp = winnow_fingerprints(_docs(spark, [a, b]), k=K, w=W)
        rows = fp.collect()
        h_a = {r.h for r in rows if r.doc_id == 0}
        h_b = {r.h for r in rows if r.doc_id == 1}
        assert h_a & h_b, f"guarantee violated at prefix_len={prefix_len}"


def test_winnow_density_and_short_docs(spark):
    long_doc = " ".join(f"tok{i}" for i in range(200))
    just_kgrams = " ".join(f"u{i}" for i in range(K))  # exactly 1 k-gram
    too_short = "a b c"  # < k tokens: no k-grams at all
    fp = winnow_fingerprints(_docs(spark, [long_doc, just_kgrams, too_short]), k=K, w=W)
    by_doc = {r[0]: r[1] for r in fp.groupBy("doc_id").count().collect()}
    n_kgrams = 200 - K + 1
    # density ~ 2/(w+1); distinct tokens => loose bounds around it
    assert n_kgrams * 1 / (W + 1) <= by_doc[0] <= n_kgrams * 4 / (W + 1)
    assert by_doc[1] == 1  # degenerate window selects the single k-gram
    assert 2 not in by_doc  # sub-k docs contribute nothing


def test_winnow_positions_are_selected_minima(spark):
    """Every selected (h, fpos) is the k-gram actually at that position,
    and consecutive selections are never more than w positions apart
    (the winnowing spacing property)."""
    doc = " ".join(f"v{i % 13}" for i in range(60))
    fp = winnow_fingerprints(_docs(spark, [doc]), k=K, w=W).orderBy("fpos").collect()
    positions = [r.fpos for r in fp]
    assert positions == sorted(positions)
    assert positions[0] <= W - 1
    for a, b in zip(positions, positions[1:]):
        assert b - a <= W, "gap between consecutive fingerprints exceeds w"


def test_winnow_pairs_stop_fingerprints_and_invariance(spark):
    """A passage shared by MORE than max_df docs is boilerplate: it must
    not produce pairs. The same corpus under a different partitioning
    produces identical pairs."""
    boiler = " ".join(f"sub{i}" for i in range(12))
    texts = [boiler + f" uniq{j}a uniq{j}b uniq{j}c" for j in range(8)]
    docs = _docs(spark, texts)
    # max_df=4 < 8 sharers: every boilerplate fingerprint is dropped
    none = winnow_match_pairs(docs, k=K, w=W, max_df=4, min_shared=1)
    assert none.count() == 0
    # max_df high enough: all 28 pairs surface
    allp = winnow_match_pairs(docs, k=K, w=W, max_df=50, min_shared=1)
    assert allp.count() == 8 * 7 // 2
    rep = winnow_match_pairs(docs.repartition(7), k=K, w=W, max_df=50, min_shared=1)
    assert sorted(map(tuple, allp.collect())) == sorted(map(tuple, rep.collect()))


def test_winnow_plan_has_no_cartesian(spark):
    docs = _docs(spark, ["a b c d e f g h"] * 3)
    plan = winnow_match_pairs(docs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_winnow_validates(spark):
    with pytest.raises(ValueError):
        winnow_fingerprints(_docs(spark, ["a"]), k=0)


# ---------------------------------------------------------------------------
# X179 Pettitt
# ---------------------------------------------------------------------------


def _series(spark, values):
    return spark.createDataFrame(
        [(i, int(v)) for i, v in enumerate(values)], "t LONG, v LONG"
    )


def test_pettitt_planted_step(spark):
    vals = [10] * 30 + [50] * 30
    row = pettitt_test(_series(spark, vals)).collect()[0]
    assert row.n_periods == 60
    assert row.change_t == 29  # last index of the low regime (0-based)
    # K for a clean step at n/2 is n^2/4 * ... large; p must be tiny
    assert row.p_r < 1e-6
    assert row.k_stat == abs(row.u_at_change)


def test_pettitt_constant_series_is_null_result(spark):
    row = pettitt_test(_series(spark, [7] * 20)).collect()[0]
    assert row.k_stat == 0
    assert row.p_r == 1.0


def test_pettitt_step_direction_flips_sign(spark):
    up = pettitt_test(_series(spark, [1] * 10 + [9] * 10)).collect()[0]
    down = pettitt_test(_series(spark, [9] * 10 + [1] * 10)).collect()[0]
    assert up.k_stat == down.k_stat
    assert up.u_at_change == -down.u_at_change
    assert up.change_t == down.change_t == 9


def test_pettitt_matches_direct_computation(spark):
    """Independent O(n^2) definition: U_t = sum_{i<=t} sum_{j>t}
    sign(v_i - v_j) over the raw values."""
    vals = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8, 9, 7, 9]
    n = len(vals)
    best_k, best_t, best_u = -1, None, None
    for t in range(n - 1):
        u = sum(
            (vals[i] > vals[j]) - (vals[i] < vals[j])
            for i in range(t + 1)
            for j in range(t + 1, n)
        )
        if abs(u) > best_k:
            best_k, best_t, best_u = abs(u), t, u
    row = pettitt_test(_series(spark, vals)).collect()[0]
    assert (row.k_stat, row.change_t, row.u_at_change) == (best_k, best_t, best_u)


# ---------------------------------------------------------------------------
# X180 MMR
# ---------------------------------------------------------------------------


def _rel_sims(spark, rel_rows, sim_rows):
    rel = spark.createDataFrame(rel_rows, "q_id LONG, c_id LONG, rel DOUBLE")
    sims = spark.createDataFrame(sim_rows, "q_id LONG, id_a LONG, id_b LONG, sim DOUBLE")
    return rel, sims


def test_mmr_prefers_diversity_over_raw_rank(spark):
    """c1 and c2 are near-duplicates; c3 is less relevant but novel.
    Pure relevance picks (c1, c2); MMR at lam=0.7 picks (c1, c3)."""
    rel, sims = _rel_sims(
        spark,
        [(0, 1, 1.0), (0, 2, 0.98), (0, 3, 0.80)],
        [
            (0, 1, 2, 0.99), (0, 2, 1, 0.99),
            (0, 1, 3, 0.10), (0, 3, 1, 0.10),
            (0, 2, 3, 0.10), (0, 3, 2, 0.10),
        ],
    )
    out = mmr_rerank(rel, sims, k=2, lam=0.7).orderBy("rank").collect()
    assert [r.c_id for r in out] == [1, 3]
    assert out[0].score_r == pytest.approx(0.7 * 1.0)
    assert out[1].score_r == pytest.approx(0.7 * 0.80 - 0.3 * 0.10)


def test_mmr_matches_reference_greedy(spark):
    """Independent in-test greedy over a seeded random instance."""
    import random

    rng = random.Random(42)
    cands = list(range(10))
    rel_rows = [(5, c, round(rng.random(), 9)) for c in cands]
    sim_rows = []
    for a in cands:
        for b in cands:
            if a < b:
                s = round(rng.random(), 9)
                sim_rows += [(5, a, b, s), (5, b, a, s)]
    relmap = {c: r for _, c, r in rel_rows}
    simmap = {(a, b): s for _, a, b, s in sim_rows}
    lam, k = 0.7, 4
    selected, remaining, expect = [], sorted(cands), []
    while remaining and len(selected) < k:
        best_c, best_sc = None, None
        for c in remaining:
            ms = max((simmap.get((c, s), 0.0) for s in selected), default=0.0)
            sc = lam * relmap[c] - (1.0 - lam) * ms
            if best_sc is None or sc > best_sc:
                best_c, best_sc = c, sc
        selected.append(best_c)
        remaining.remove(best_c)
        expect.append((5, len(selected), best_c))
    rel, sims = _rel_sims(spark, rel_rows, sim_rows)
    out = mmr_rerank(rel, sims, k=k, lam=lam).orderBy("rank").collect()
    assert [(r.q_id, r["rank"], r.c_id) for r in out] == expect


def test_mmr_fewer_candidates_than_k_and_ties(spark):
    rel, sims = _rel_sims(
        spark,
        [(1, 7, 0.5), (1, 3, 0.5)],  # exact tie: smallest id first
        [(1, 7, 3, 0.0), (1, 3, 7, 0.0)],
    )
    out = mmr_rerank(rel, sims, k=5, lam=0.7).orderBy("rank").collect()
    assert [r.c_id for r in out] == [3, 7]  # tie -> id asc; only 2 rows


def test_mmr_validates(spark):
    rel, sims = _rel_sims(spark, [(0, 1, 0.5)], [(0, 1, 1, 1.0)])
    with pytest.raises(ValueError):
        mmr_rerank(rel, sims, k=0)
    with pytest.raises(ValueError):
        mmr_rerank(rel, sims, lam=1.5)


def test_mmr_embeddings_wrapper_invariants(spark, sf0001):
    out = mmr_rerank_embeddings(
        spark.read.parquet(f"{sf0001}/embeddings.parquet"),
        query_mod=50, n_cand=8, k=3,
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.q_id, []).append(r)
    for q, rows in by_q.items():
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == list(range(1, len(rows) + 1))
        assert len({r.c_id for r in rows}) == len(rows)
        assert q % 50 == 0


# ---------------------------------------------------------------------------
# X181 embedding drift
# ---------------------------------------------------------------------------


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")


def test_drift_identical_populations_is_zero(spark):
    import random

    rng = random.Random(7)
    vecs = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(40)]
    rows = []
    for i, v in enumerate(vecs):  # even id and odd id carry the SAME vector
        rows += [(2 * i, v), (2 * i + 1, v)]
    row = embedding_drift(
        _emb(spark, rows), (F.col("vec_id") % 2) == 1, in_dim=8, bits=4
    ).collect()[0]
    assert row.n_a == row.n_b == 40
    assert row.cells_a == row.cells_b
    assert row.psi_r == 0.0
    assert row.tv_r == 0.0


def test_drift_planted_shift_detected(spark):
    rows = []
    for i in range(40):
        base = [1.0 + 0.01 * i] + [0.05] * 7  # population A: +e1 cone
        rows.append((2 * i, base))
        rows.append((2 * i + 1, [-x for x in base]))  # B: mirrored cone
    row = embedding_drift(
        _emb(spark, rows), (F.col("vec_id") % 2) == 1, in_dim=8, bits=4
    ).collect()[0]
    assert row.psi_r > 0.25  # "major shift" rule-of-thumb
    assert row.tv_r > 0.5


def test_drift_malformed_rows_dropped_and_validates(spark):
    rows = [(0, [1.0] * 8), (1, None), (2, [1.0] * 3), (3, [1.0] * 8)]
    row = embedding_drift(
        _emb(spark, rows), (F.col("vec_id") % 2) == 1, in_dim=8, bits=4
    ).collect()[0]
    assert row.n_a + row.n_b == 2  # ids 1 (null) and 2 (wrong dim) dropped
    with pytest.raises(ValueError):
        embedding_drift(_emb(spark, rows), F.lit(True), in_dim=8, bits=0)


# ---------------------------------------------------------------------------
# X182 split conformal
# ---------------------------------------------------------------------------


def test_conformal_small_case_exact(spark):
    """Hand-computed: one group, calibration residuals known, k = ceil
    ((n_cal+1)*0.5) at alpha=0.5."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import split_conformal

    # even ids (cal): y = 10, 20, 30, 40 -> mean 25; residuals 15, 5, 5, 15
    # odd ids (eval): y = 24, 26, 50 -> residuals 1, 1, 25
    rows = [(0, 10.0), (2, 20.0), (4, 30.0), (6, 40.0),
            (1, 24.0), (3, 26.0), (5, 50.0)]
    df = spark.createDataFrame([(i, "g", y) for i, y in rows], "id LONG, g STRING, y DOUBLE")
    out = split_conformal(df, "y", ["g"], "id", alpha=0.5).collect()[0]
    # k = ceil(5 * 0.5) = 3 -> sorted cal residuals [5, 5, 15, 15] -> q = 15
    assert out.n_cal == 4 and out.n_eval == 3
    assert out.q_r == 15.0
    assert out.coverage_r == pytest.approx(2 / 3)


def test_conformal_coverage_guarantee_on_synthetic(spark):
    """Finite-sample guarantee: held-out coverage ~ 1 - alpha for
    exchangeable data (deterministic pseudo-noise, generous slack)."""
    import random

    from dbms_data_anonymity_differential_privacy_spark.operators.stats import split_conformal

    rng = random.Random(3)
    data = [(i, f"g{i % 3}", 100.0 + rng.gauss(0, 5)) for i in range(3000)]
    df = spark.createDataFrame(data, "id LONG, g STRING, y DOUBLE")
    for r in split_conformal(df, "y", ["g"], "id", alpha=0.1).collect():
        assert 0.85 <= r.coverage_r <= 0.95, r


def test_conformal_uncertifiable_group_released_null(spark):
    """k > n_cal (tiny calibration at small alpha): the group is released
    with NULL q/coverage, not silently dropped."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import split_conformal

    df = spark.createDataFrame(
        [(0, "g", 1.0), (2, "g", 2.0), (1, "g", 1.5)], "id LONG, g STRING, y DOUBLE"
    )
    out = split_conformal(df, "y", ["g"], "id", alpha=0.1).collect()
    # n_cal = 2, k = ceil(3 * 0.9) = 3 > 2
    assert len(out) == 1 and out[0].q_r is None and out[0].coverage_r is None
    with pytest.raises(ValueError):
        split_conformal(df, "y", ["g"], "id", alpha=0.0)


# ---------------------------------------------------------------------------
# X183 mutual kNN
# ---------------------------------------------------------------------------


def test_mutual_knn_drops_hub_edges(spark):
    """A hub near everyone appears in every top-m, but its own top-m only
    holds its true peers: non-peer hub edges must not survive."""
    from dbms_data_anonymity_differential_privacy_spark.operators.similarity import (
        mutual_knn_pairs,
    )

    # two tight clusters + a hub between them (8-dim)
    rows = []
    for i in range(4):  # cluster A around +e1
        rows.append((i, [10.0, 0.1 * i, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]))
    for i in range(4):  # cluster B around +e2
        rows.append((10 + i, [0.1 * i, 10.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]))
    rows.append((99, [7.0, 7.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]))  # hub
    df = spark.createDataFrame(
        [(i, v, "x") for i, v in rows], "vec_id LONG, embedding ARRAY<DOUBLE>, label STRING"
    )
    pairs = mutual_knn_pairs(df, m=3, block_col="label", impl="sql").collect()
    ids = {(r.id_a, r.id_b) for r in pairs}
    # the hub is in everyone's top-3 candidate range, but its own top-3
    # cannot cover 8 vectors: at most 3 hub edges survive
    hub_edges = [p for p in ids if 99 in p]
    assert len(hub_edges) <= 3
    # within-cluster mutual edges survive
    assert any(a < 4 and b < 4 for a, b in ids)
    for r in pairs:
        assert r.id_a < r.id_b
        assert 1 <= r.rank_ab <= 3 and 1 <= r.rank_ba <= 3


def test_mutual_knn_matches_direct_computation(spark, sf0001):
    """Reciprocity check against the directed relation itself."""
    from dbms_data_anonymity_differential_privacy_spark.operators.similarity import (
        cosine_pairs_topm,
        mutual_knn_pairs,
    )

    emb = spark.read.parquet(f"{sf0001}/embeddings.parquet")
    directed = {
        (r.id_a, r.id_b): r.rnk
        for r in cosine_pairs_topm(emb, m=4, block_col="label", impl="sql").collect()
    }
    expect = {
        (a, b): (r1, directed[(b, a)])
        for (a, b), r1 in directed.items()
        if (b, a) in directed and a < b
    }
    got = {
        (r.id_a, r.id_b): (r.rank_ab, r.rank_ba)
        for r in mutual_knn_pairs(emb, m=4, block_col="label", impl="sql").collect()
    }
    assert got == expect and len(got) > 0


# ---------------------------------------------------------------------------
# X184 Good-Turing / X185 Heaps
# ---------------------------------------------------------------------------


def test_good_turing_spectrum_identity(spark):
    """Hand-built corpus with a known frequency spectrum."""
    from dbms_data_anonymity_differential_privacy_spark.operators.text import good_turing_stats

    # tokens: a a a  b b  c  d  -> N=7, V=4, V1=2 (c,d), V2=1 (b)
    docs = spark.createDataFrame(
        [(0, "a a a b"), (1, "b c d")], "doc_id LONG, text STRING"
    )
    row = good_turing_stats(docs).collect()[0]
    assert (row.n_tokens, row.vocab, row.v1, row.v2) == (7, 4, 2, 1)
    assert row.gt_unseen_r == pytest.approx(2 / 7, abs=1e-6)
    assert row.coverage_r == pytest.approx(1 - 2 / 7, abs=1e-6)
    # chao1 = 4 + 2*1 / (2*(1+1)) = 4.5
    assert row.chao1_r == pytest.approx(4.5, abs=1e-6)


def test_good_turing_groups_partition_the_corpus(spark, sf0001):
    from dbms_data_anonymity_differential_privacy_spark.operators.text import good_turing_stats

    docs = spark.read.parquet(f"{sf0001}/documents.parquet")
    whole = good_turing_stats(docs).collect()[0]
    parts = good_turing_stats(docs, group_cols=["lang"]).collect()
    assert sum(r.n_tokens for r in parts) == whole.n_tokens
    for r in parts:
        assert 0.0 <= r.gt_unseen_r <= 1.0
        assert r.chao1_r >= r.vocab


def test_heaps_fit_recovers_planted_exponent(spark):
    """A corpus engineered so V(N) = N^0.5 exactly at every document:
    doc d contributes 2d+1 tokens of which d+1... simpler: make each doc
    d (1-based) bring total N = d^2 and V = d, i.e. beta = 0.5, K = 1."""
    from dbms_data_anonymity_differential_privacy_spark.operators.text import heaps_fit

    docs = []
    for d in range(1, 25):
        n_new_tokens = d * d - (d - 1) * (d - 1)  # 2d - 1 occurrences
        # one NEW type (w{d}) + repeats of the first type to pad
        toks = [f"w{d}"] + ["w1"] * (n_new_tokens - 1)
        docs.append((d, " ".join(toks)))
    row = heaps_fit(spark.createDataFrame(docs, "doc_id LONG, text STRING")).collect()[0]
    assert row.n_docs == 24
    assert row.n_tokens == 24 * 24 and row.vocab == 24
    assert row.beta_r == pytest.approx(0.5, abs=1e-6)
    assert row.k_r == pytest.approx(1.0, abs=1e-6)


def test_heaps_fit_beta_in_natural_range_on_fixture(spark, sf0001):
    from dbms_data_anonymity_differential_privacy_spark.operators.text import heaps_fit

    row = heaps_fit(spark.read.parquet(f"{sf0001}/documents.parquet")).collect()[0]
    assert 0.0 < row.beta_r < 1.0
    assert row.vocab <= row.n_tokens


# ---------------------------------------------------------------------------
# X186 streaming drift monitor
# ---------------------------------------------------------------------------


def test_drift_stream_matches_batch(spark, sf0001, tmp_path):
    """The Structured Streaming drift monitor over the events file
    (availableNow -> memory sink) must equal the batch twin exactly."""
    import shutil

    from dbms_data_anonymity_differential_privacy_spark.sources.readers import load_table
    from dbms_data_anonymity_differential_privacy_spark.streaming.drift import (
        drift_windows_batch,
        drift_windows_stream,
        reference_counts,
    )

    ev = load_table(spark, sf0001, "events")
    ref = reference_counts(ev)
    batch = {
        (r.window_start, r.n_events, r.psi_r)
        for r in drift_windows_batch(ev, ref, window="1 day").collect()
    }
    stream_dir = tmp_path / "events"
    stream_dir.mkdir()
    shutil.copy(f"{sf0001}/events.parquet", stream_dir / "part-000.parquet")
    sdf = drift_windows_stream(spark, str(stream_dir), ref, window="1 day", watermark="2 days")
    q = (
        sdf.writeStream.format("memory")
        .queryName("x186_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start, r.n_events, r.psi_r)
        for r in spark.sql("SELECT * FROM x186_test").collect()
    }
    assert got == batch and len(batch) > 0


def test_drift_windows_flag_planted_mix_shift(spark):
    """A window whose type mix matches the reference scores near zero;
    a window drawn from a disjoint mix scores high; drift into an
    UNSEEN type (the OTHER bucket) is visible."""
    import datetime

    from dbms_data_anonymity_differential_privacy_spark.streaming.drift import drift_windows_batch

    base = datetime.datetime(2024, 1, 1)
    rows = []
    # day 0: 90 a + 10 b (the reference mix), day 1: 10 a + 90 b,
    # day 2: 100 of a type the reference never saw
    for i in range(90):
        rows.append((base, "a"))
    for i in range(10):
        rows.append((base, "b"))
    d1 = base + datetime.timedelta(days=1)
    for i in range(10):
        rows.append((d1, "a"))
    for i in range(90):
        rows.append((d1, "b"))
    d2 = base + datetime.timedelta(days=2)
    for i in range(100):
        rows.append((d2, "zz"))
    ev = spark.createDataFrame(rows, "ts TIMESTAMP, event_type STRING")
    ref = {"a": 90, "b": 10}
    out = {r.window_start.day: r.psi_r for r in drift_windows_batch(ev, ref).collect()}
    assert out[1] < 0.05          # matches the reference
    assert out[2] > 1.0           # inverted mix
    assert out[3] > 2.0           # all mass on an unseen type


# ---------------------------------------------------------------------------
# X188 Markov stationary
# ---------------------------------------------------------------------------


def _ev(spark, seqs):
    """Build an events table from per-user event-type sequences."""
    import datetime

    rows = []
    eid = 0
    for uid, seq in enumerate(seqs):
        for i, t in enumerate(seq):
            rows.append(
                (eid, datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=i), uid, t)
            )
            eid += 1
    return spark.createDataFrame(
        rows, "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING"
    )


def test_markov_stationary_two_state_closed_form(spark):
    """Chain a->b with prob 1, b->a with prob 1: stationary = (0.5, 0.5)
    whatever the start (period-2 chain from uniform start stays uniform)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import markov_stationary

    ev = _ev(spark, [["a", "b", "a", "b", "a"]] * 3)
    out = {r.state: r.pi_r for r in markov_stationary(ev, n_iter=20).collect()}
    assert out == {"a": 0.5, "b": 0.5}


def test_markov_stationary_absorbing_state_takes_all(spark):
    """a -> b -> b ...: b absorbs (its only observed transition is b->b
    is absent here, so b is DANGLING and self-loops); all mass ends in b."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import markov_stationary

    ev = _ev(spark, [["a", "b"]] * 4)
    out = {r.state: r.pi_r for r in markov_stationary(ev, n_iter=30).collect()}
    assert out["b"] == pytest.approx(1.0, abs=1e-9)
    assert out["a"] == pytest.approx(0.0, abs=1e-9)


def test_markov_stationary_conserves_mass_on_fixture(spark, sf0001):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import markov_stationary
    from dbms_data_anonymity_differential_privacy_spark.sources.readers import load_table

    ev = load_table(spark, sf0001, "events")
    rows = markov_stationary(ev).collect()
    assert sum(r.pi_r for r in rows) == pytest.approx(1.0, abs=1e-6)
    assert all(r.pi_r >= 0 for r in rows)
    with pytest.raises(ValueError):
        markov_stationary(ev, n_iter=0)


# ---------------------------------------------------------------------------
# X189 classification eval
# ---------------------------------------------------------------------------


def test_classification_eval_hand_computed(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.text import classification_eval

    # gold: a a a b b c ; pred: a a b b b d
    pairs = spark.createDataFrame(
        [("a", "a"), ("a", "a"), ("a", "b"), ("b", "b"), ("b", "b"), ("c", "d")],
        "g STRING, p STRING",
    )
    out = {r.label: r for r in classification_eval(pairs, "g", "p").collect()}
    assert set(out) == {"a", "b", "c", "d"}
    a = out["a"]
    assert (a.n_gold, a.n_pred, a.tp) == (3, 2, 2)
    assert a.precision_r == 1.0 and a.recall_r == pytest.approx(2 / 3)
    assert a.f1_r == pytest.approx(0.8)
    b = out["b"]
    assert (b.n_gold, b.n_pred, b.tp) == (2, 3, 2)
    assert b.f1_r == pytest.approx(0.8)
    c = out["c"]  # gold-only class: recall miss visible, precision NULL
    assert (c.n_gold, c.n_pred, c.tp) == (1, 0, 0)
    assert c.precision_r is None and c.recall_r == 0.0 and c.f1_r is None
    d = out["d"]  # prediction-only class: precision hit visible
    assert (d.n_gold, d.n_pred, d.tp) == (0, 1, 0)
    assert d.precision_r == 0.0 and d.recall_r is None and d.f1_r is None


def test_classification_eval_perfect_predictor(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.text import classification_eval

    pairs = spark.createDataFrame(
        [(x, x) for x in "aabbccdd"], "g STRING, p STRING"
    )
    for r in classification_eval(pairs, "g", "p").collect():
        assert r.precision_r == 1.0 and r.recall_r == 1.0 and r.f1_r == 1.0


# ---------------------------------------------------------------------------
# Cache-ledger lifecycle: operator-internal persists are tracked
# ---------------------------------------------------------------------------


def test_operator_persists_are_ledger_released(spark, sf0001):
    """Every consumer-lazy persist inside the dedup/text/stats operators
    must ride the cache ledger: after consuming the results and calling
    release_cached_relations(), no persisted RDDs remain."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import (
        near_dedup_corpus,
        ngram_jaccard_pairs,
    )
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import copurchase_lift
    from dbms_data_anonymity_differential_privacy_spark.operators.text import tfidf_topk
    from dbms_data_anonymity_differential_privacy_spark.operators.util import (
        release_cached_relations,
    )

    spark.catalog.clearCache()
    release_cached_relations()
    # Baseline: earlier test modules may leave localCheckpoint BLOCKS
    # alive until Python/JVM GC + ContextCleaner run (checkpoint blocks
    # cannot ride the ledger — releasing them would corrupt the
    # lineage-truncated relations they back). The contract pinned here
    # is therefore about NEW residue from these four operators, not
    # ambient checkpoint blocks.
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    docs = spark.read.parquet(f"{sf0001}/documents.parquet")
    li = spark.read.parquet(f"{sf0001}/lineitem.parquet")
    ngram_jaccard_pairs(docs, 0.5).count()
    near_dedup_corpus(docs).count()
    copurchase_lift(li, "l_orderkey", "l_partkey", top_k=5).count()
    tfidf_topk(docs, k=3).count()

    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    assert len(after - before) > 0, "operators should have persisted internally"
    release_cached_relations()
    leftover = set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) - before
    assert not leftover, f"untracked cache residue from the operators: {len(leftover)} RDDs"
