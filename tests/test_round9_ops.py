"""Round-9 regression tests: the four round-8 ADVICE findings plus the
verdict's hardening tasks (kendall guard, silhouette scale branch)."""
from __future__ import annotations

import pytest

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# ADVICE (medium): _largest_remainder_round on an empty cell list must
# publish the empty histogram, not divmod-by-zero, even when the
# independently-released DP total rounds >= 1.
# ---------------------------------------------------------------------------
def test_largest_remainder_empty_cells_returns_empty():
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import (
        _largest_remainder_round,
    )

    assert _largest_remainder_round([], 3, []) == []
    assert _largest_remainder_round([], 0, []) == []


def test_dp_histogram_consistent_empty_input(spark, sf001):
    """End-to-end: a fully-filtered input releases an empty consistent
    histogram across many seeds (about half of which round the noisy
    total to >= 1 — the crash regime of the round-8 advisory)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import (
        dp_histogram_consistent,
    )
    from dbms_data_anonymity_differential_privacy_spark.queries_registry import load_table

    li = load_table(spark, sf001, "lineitem").where(F.lit(False))
    for seed in range(6):
        out = dp_histogram_consistent(
            li, ["l_returnflag"], epsilon=1.0, seed=seed,
            release=f"r9_empty_hist_{seed}",
        )
        assert out.count() == 0


# ---------------------------------------------------------------------------
# ADVICE (low): encode_scale must exclude NULLs from the string
# dictionary (Spark ranks NULL first, DuckDB last — either way
# StringIndexer parity breaks) and drop NULL-QI rows as documented.
# ---------------------------------------------------------------------------
def test_encode_scale_null_string_qi(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.clustering import encode_scale

    df = spark.createDataFrame(
        [(1, "b", 10), (2, None, 20), (3, "a", 30), (4, "c", 40), (5, "a", 50)],
        "id long, seg string, v long",
    )
    out = encode_scale(df, ["seg", "v"], id_col="id").collect()
    got = {r["id"]: r["seg_idx"] for r in out}
    # NULL row dropped; indices are 0-based ranks over NON-NULL labels
    assert 2 not in got
    assert got == {1: 1, 3: 0, 4: 2, 5: 0}
    # moments exclude the dropped row: v mean over {10,30,40,50} = 32.5,
    # so v=10's scaled value is negative and v=50's positive
    sv = {r["id"]: r["v_scaled_r"] for r in out}
    assert sv[1] < 0 < sv[5]


# ---------------------------------------------------------------------------
# Verdict task 4 + ADVICE (low): kendall_tau_b — quadratic-input guard
# and exact-int64 n0.
# ---------------------------------------------------------------------------
def test_kendall_guard_refuses_continuous(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import kendall_tau_b

    df = spark.range(0, 5000).select(
        F.col("id").alias("x"), (F.col("id") % 7).alias("y")
    )
    with pytest.raises(ValueError, match="max_distinct"):
        kendall_tau_b(df, "x", "y", max_distinct=4096).collect()
    # raising the bound explicitly re-enables the computation
    row = kendall_tau_b(df, "x", "y", max_distinct=5000).first()
    assert row["n"] == 5000 and row["ties_x"] == 0


def test_kendall_exact_int64_n0(spark):
    """The even-factor-split n0 equals n(n-1)/2 exactly and tau matches
    the closed form on a small hand-checked grid."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import kendall_tau_b

    rows = [(1, 1), (2, 2), (2, 2), (3, 1), (3, 3)]
    df = spark.createDataFrame(rows, "x long, y long")
    r = kendall_tau_b(df, "x", "y").first()
    n = len(rows)
    n0 = n * (n - 1) // 2  # 10
    # pairs: C=4 (1,1)-(2,2)x2,(1,1)-(3,3); recount by hand:
    # (1,1)&(2,2): conc x2 ; (1,1)&(3,1): tie_y ; (1,1)&(3,3): conc
    # (2,2)&(2,2): tie both ; (2,2)&(3,1): disc x2 ; (2,2)&(3,3): conc x2
    # (3,1)&(3,3): tie_x
    assert (r["concordant"], r["discordant"]) == (5, 2)
    assert (r["ties_x"], r["ties_y"]) == (2, 2)
    import math

    expect = (5 - 2) / math.sqrt((n0 - 2) * (n0 - 2))
    assert abs(r["tau_b_r"] - round(expect, 9)) < 1e-12


# ---------------------------------------------------------------------------
# Verdict task 7: Rényi composition — on the SAME release sequence as
# the r8 ledger e2e test, the RDP-converted spend is never above basic
# sequential composition, strictly below it for a Gaussian-heavy
# sequence, and exhaustion still rejects before the ledger mutates.
# ---------------------------------------------------------------------------
def test_renyi_budget_tighter_than_basic(spark, sf001):
    import math

    from dbms_data_anonymity_differential_privacy_spark.operators.dp import (
        BudgetExceededError,
        PrivacyBudget,
        RenyiBudget,
        dp_above_threshold,
        dp_count,
        dp_count_gaussian,
        dp_histogram,
        dp_histogram_consistent,
        dp_sum,
    )
    from dbms_data_anonymity_differential_privacy_spark.queries_registry import load_table

    ev = load_table(spark, sf001, "events")
    basic = PrivacyBudget(total_epsilon=4.0, total_delta=1e-6)
    renyi = RenyiBudget(total_epsilon=4.0, target_delta=1e-5)

    def run_sequence(budget, seed0):
        dp_count(ev, ["event_type"], epsilon=0.5, seed=seed0, budget=budget).collect()
        dp_sum(
            ev, ["event_type"], "value", epsilon=0.5, lower=0.0, upper=100.0,
            seed=seed0 + 1, budget=budget,
        ).collect()
        dp_histogram(
            ev, "value", n_bins=10, epsilon=0.5, lower=0.0, upper=100.0,
            seed=seed0 + 2, budget=budget,
        ).collect()
        dp_above_threshold(
            ev, ["event_type"], threshold=1000.0, epsilon=0.5, seed=seed0 + 3,
            budget=budget,
        ).collect()
        dp_count_gaussian(
            ev, ["event_type"], epsilon=0.5, delta=1e-6, seed=seed0 + 4,
            budget=budget,
        ).collect()
        dp_histogram_consistent(
            ev, ["event_type"], epsilon=0.4, seed=seed0 + 5, budget=budget
        )

    run_sequence(basic, 1)
    run_sequence(renyi, 21)
    assert len(renyi.ledger) == len(basic.ledger) == 7
    # comparative assertion: advanced <= basic on the SAME sequence
    assert renyi.spent <= basic.spent + 1e-12
    assert renyi.epsilon_at(1e-5) <= basic.spent + 1e-12

    # Gaussian-heavy sequence: RDP is STRICTLY tighter — 8 Gaussian
    # releases at eps=0.5 cost 4.0 under basic composition but well
    # under 2.0 RDP-converted
    g = RenyiBudget(total_epsilon=4.0, target_delta=1e-5)
    for i in range(8):
        g.spend(0.5, label=f"gauss{i}", delta=1e-6, mechanism="gaussian")
    assert g.spent < 2.0 < 8 * 0.5
    # the conversion really is the documented min over the alpha grid
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import _RDP_ALPHAS

    scale = 8 * 0.25 / (4.0 * math.log(1.25 / 1e-6))
    expect = min(
        a * scale + math.log(1e5) / (a - 1.0) for a in _RDP_ALPHAS
    )
    assert g.spent == pytest.approx(expect)

    # exhaustion rejects BEFORE the ledger mutates
    full = RenyiBudget(total_epsilon=1.0, target_delta=1e-5)
    full.spend(0.9, label="big")
    before_rdp, before_ledger = list(full._rdp), list(full.ledger)
    with pytest.raises(BudgetExceededError):
        full.spend(0.9, label="too-much")
    assert full._rdp == before_rdp and full.ledger == before_ledger

    # a Laplace release's RDP curve is dominated by its pure-DP epsilon
    lone = RenyiBudget(total_epsilon=1.0, target_delta=1e-5)
    lone.spend(0.3, label="lap")
    assert lone.spent <= 0.3 + 1e-12


# ---------------------------------------------------------------------------
# Verdict task 3: silhouette's scale escape is real code — past
# exact_fold_max_rows the collect_list folds switch to plain sums
# (tolerance contract), below it the fold release is byte-stable.
# ---------------------------------------------------------------------------
def test_silhouette_scale_escape(spark, sf001):
    from dbms_data_anonymity_differential_privacy_spark.operators.embeddings import (
        silhouette_by_label,
    )
    from dbms_data_anonymity_differential_privacy_spark.queries_registry import load_table

    emb = load_table(spark, sf001, "embeddings").withColumn(
        "label", F.pmod(F.xxhash64("vec_id"), F.lit(5))
    )
    fold = silhouette_by_label(emb, "label", "embedding", "vec_id")
    esc = silhouette_by_label(
        emb, "label", "embedding", "vec_id", exact_fold_max_rows=1
    )
    # the escalated plan carries no collect_list fold anywhere
    plan = esc._jdf.queryExecution().toString()
    assert "collect_list" not in plan
    f = {r["label"]: r for r in fold.collect()}
    g = {r["label"]: r for r in esc.collect()}
    assert set(f) == set(g) and len(f) == 5
    for lbl in f:
        assert f[lbl]["n"] == g[lbl]["n"]
        for c in ("mean_a_r", "mean_b_r", "silhouette_r"):
            # tolerance contract: plain sums agree to ~1e-9 relative,
            # i.e. at most one ulp of the 6-dp rounding
            assert abs(f[lbl][c] - g[lbl][c]) <= 1e-6


# ---------------------------------------------------------------------------
# ADVICE (low): the x227 oracle builder must escape single quotes so a
# quote-bearing canary cannot desynchronize the DuckDB twin.
# ---------------------------------------------------------------------------
def test_x227_sql_escapes_quotes(monkeypatch):
    import dbms_data_anonymity_differential_privacy_spark.queries_registry as qr

    monkeypatch.setattr(qr, "X227_CANARIES", ["it's a trap", "plain"])
    sql = qr._x227_sql()
    assert "'it''s a trap'" in sql
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.execute(
        "INSERT INTO documents VALUES (1, 'well it''s a trap indeed'), (2, 'plain plain')"
    )
    got = {
        r[1]: (r[2], r[3])
        for r in con.execute(sql).fetchall()
    }
    assert got["it's a trap"] == (1, 1)
    assert got["plain"] == (1, 2)


# ---------------------------------------------------------------------------
# Round-9 operator batch: capture-recapture, Anderson-Darling, Ljung-Box,
# Neyman allocation, Count-Min audit.
# ---------------------------------------------------------------------------
def test_capture_recapture_hand_case(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import (
        capture_recapture_audit,
    )

    pa = spark.createDataFrame(
        [(0, 1), (0, 2), (9, 3)], "id_a long, id_b long"
    )
    pb = spark.createDataFrame(
        [(0, 2), (0, 3), (1, 4), (1, 5)], "id_a long, id_b long"
    )
    r = capture_recapture_audit(pa, pb).first()
    assert (r["n_a"], r["n_b"], r["n_both"]) == (3, 4, 2)
    # chapman = 4*5/3 - 1, lincoln-petersen = 3*4/2
    assert r["chapman_r"] == round(4 * 5 / 3 - 1, 6)
    assert r["lincoln_petersen_r"] == 6.0
    # m = 0: chapman defined, LP NULL
    pc = spark.createDataFrame([(0, 9)], "id_a long, id_b long")
    r0 = capture_recapture_audit(pa, pc).first()
    assert r0["n_both"] == 0 and r0["lincoln_petersen_r"] is None
    assert r0["chapman_r"] == round(4 * 2 - 1, 6)


def _a2akn_numpy(samples):
    """scipy.stats._anderson_ksamp_midrank reimplementation (NumPy only —
    scipy is not in this container)."""
    import numpy as np

    Z = np.sort(np.hstack(samples))
    N = len(Z)
    Zstar = np.unique(Z)
    left = Z.searchsorted(Zstar, side="left")
    lj = Z.searchsorted(Zstar, side="right") - left
    Bj = left + lj / 2.0
    A2akN = 0.0
    for s in samples:
        s = np.sort(s)
        Mij = s.searchsorted(Zstar, side="right").astype(float)
        fij = s.searchsorted(Zstar, side="right") - s.searchsorted(Zstar, side="left")
        Mij -= fij / 2.0
        inner = (
            lj / float(N) * (N * Mij - Bj * len(s)) ** 2
            / (Bj * (N - Bj) - N * lj / 4.0)
        )
        A2akN += inner.sum() / len(s)
    return A2akN * (N - 1.0) / N


def test_anderson_darling_numpy_parity(spark):
    import numpy as np

    from dbms_data_anonymity_differential_privacy_spark.operators.stats import (
        anderson_darling_2samp,
    )

    rng = np.random.RandomState(7)
    cases = {
        "ties": (
            np.round(rng.normal(0, 1, 400), 1),
            np.round(rng.normal(0.3, 1.3, 300), 1),
        ),
        "no-ties": (rng.normal(0, 1, 200), rng.normal(0, 1, 150)),
        "ints": (
            rng.poisson(4, 300).astype(float),
            rng.poisson(5, 250).astype(float),
        ),
    }
    for name, (a, b) in cases.items():
        expect = _a2akn_numpy([a, b])
        rows = [(float(v), "a") for v in a] + [(float(v), "b") for v in b]
        df = spark.createDataFrame(rows, "v double, g string")
        r = anderson_darling_2samp(df, "v", "g", "a", "b").first()
        assert abs(r["a2_r"] - expect) < 1e-6, (name, r["a2_r"], expect)
        assert r["n_a"] == len(a) and r["n_b"] == len(b)


def test_ljung_box_consistent_with_acf(spark, sf001):
    """Q must equal n(n+2) sum r_k^2/(n-k) recomputed from the x142 ACF
    releases (same series, same lags) to rounding tolerance, and a
    strongly autocorrelated series must dwarf white noise."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import acf, ljung_box
    from dbms_data_anonymity_differential_privacy_spark.queries_registry import load_table

    ev = load_table(spark, sf001, "events")
    q = ljung_box(ev, max_lag=24).first()
    rs = {r["lag"]: r["acf_r"] for r in acf(ev, max_lag=24).collect()}
    n = q["n_periods"]
    expect = n * (n + 2) * sum(rs[k] ** 2 / (n - k) for k in rs)
    # acf_r is rounded at 9dp, so allow the accumulated rounding band
    assert abs(q["q_r"] - expect) / max(expect, 1.0) < 1e-5
    assert q["max_lag"] == 24

    # constant series -> NULL
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    flat = spark.createDataFrame(
        [(base + dt.timedelta(hours=h),) for h in range(50)], "ts timestamp"
    )
    assert ljung_box(flat, max_lag=5).first()["q_r"] is None


def test_neyman_allocation_hand_case(spark):
    import math

    from dbms_data_anonymity_differential_privacy_spark.operators.sampling import (
        neyman_allocation,
    )

    rows = (
        [("a", float(v)) for v in (0, 2, 4, 6)]      # sd ~ 2.582
        + [("b", float(v)) for v in (5, 5, 5, 5, 5, 5)]  # sd 0
        + [("c", 7.0)]                                # singleton, sd 0
        + [("d", 0.0), ("d", 10.0)]                   # sd ~ 7.071
    )
    df = spark.createDataFrame(rows, "s string, v double")
    out = {r["stratum"]: r for r in neyman_allocation(df, "s", "v", 1000).collect()}
    sd_a = math.sqrt(((0 - 3) ** 2 + (2 - 3) ** 2 + (4 - 3) ** 2 + (6 - 3) ** 2) / 3)
    assert abs(out["a"]["sd_r"] - round(sd_a, 9)) < 1e-9
    assert out["b"]["sd_r"] == 0.0 and out["b"]["n_alloc"] == 0
    assert out["c"]["sd_r"] == 0.0 and out["c"]["n_alloc"] == 0
    w_a = 4 * sd_a
    w_d = 2 * math.sqrt(50.0)
    assert abs(out["a"]["weight_r"] - round(w_a / (w_a + w_d), 9)) < 1e-8
    assert out["a"]["n_alloc"] + out["d"]["n_alloc"] in (999, 1000, 1001)


def test_count_min_one_sided_and_tight_when_wide(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.sketch import (
        count_min_estimates,
    )

    rows = [(f"k{i % 37}",) for i in range(3000)]
    df = spark.createDataFrame(rows, "k string")
    out = count_min_estimates(df, "k", depth=4, width=1024, top=10).collect()
    assert len(out) == 10
    for r in out:
        # CMS error is one-sided by construction
        assert r["cms_count"] >= r["exact_count"]
        assert r["overcount"] == r["cms_count"] - r["exact_count"]
    # 37 keys in 1024 buckets x 4 rows: some row almost surely collision-
    # free per key -> min estimate exact
    assert all(r["overcount"] == 0 for r in out)


def test_minhash_audit_error_band(spark, sf001):
    """The estimator must honor the Broder accuracy contract on real
    corpus pairs: mean |err| well inside the k=32 binomial band, and
    exact-duplicate pairs (J=1) estimate exactly 1."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import (
        minhash_jaccard_audit,
    )
    from dbms_data_anonymity_differential_privacy_spark.queries_registry import load_table

    docs = load_table(spark, sf001, "documents")
    rows = minhash_jaccard_audit(docs, threshold=0.2, n=3, num_hashes=32).collect()
    assert rows, "no qualifying pairs at sf0.01"
    for r in rows:
        assert 0.0 <= r["minhash_est_r"] <= 1.0
        if r["jaccard_r"] == 1.0:
            # identical shingle sets -> identical signatures, always
            assert r["minhash_est_r"] == 1.0
    # sigma at J~0.3, k=32 is ~0.08; mean |err| across pairs must sit
    # well inside 2 sigma
    mean_err = sum(r["abs_err_r"] for r in rows) / len(rows)
    assert mean_err < 0.16, mean_err


def test_anderson_ksamp_numpy_parity_and_2samp_consistency(spark):
    import numpy as np

    from dbms_data_anonymity_differential_privacy_spark.operators.stats import (
        anderson_darling_2samp,
        anderson_darling_ksamp,
    )

    rng = np.random.RandomState(11)
    groups = {
        "a": np.round(rng.normal(0, 1, 250), 1),
        "b": np.round(rng.normal(0.2, 1, 200), 1),
        "c": np.round(rng.normal(0, 1.5, 150), 1),
    }
    expect = _a2akn_numpy(list(groups.values()))
    rows = [(float(v), g) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "v double, g string")
    r = anderson_darling_ksamp(df, "v", "g", ["a", "b", "c"]).first()
    assert abs(r["a2_r"] - expect) < 1e-6
    assert r["n_total"] == 600 and r["n_groups"] == 3

    # k=2 degenerates to the 2-sample release
    two = anderson_darling_ksamp(df.filter("g != 'c'"), "v", "g", ["a", "b"]).first()
    base = anderson_darling_2samp(df.filter("g != 'c'"), "v", "g", "a", "b").first()
    assert two["a2_r"] == base["a2_r"]


def test_theil_u_hand_case(spark):
    import math

    from dbms_data_anonymity_differential_privacy_spark.operators.stats import theil_u

    # B determines A completely -> U(A|B) = 1; A says less about B
    rows = [("x", 1), ("x", 1), ("y", 2), ("y", 3)]
    df = spark.createDataFrame(rows, "a string, b long")
    r = theil_u(df, "a", "b").first()
    assert r["u_a_given_b_r"] == 1.0
    h_a = -(0.5 * math.log(0.5)) * 2
    h_b = -(0.5 * math.log(0.5) + 2 * 0.25 * math.log(0.25))
    mi = h_a  # I(A;B) = H(A) when B determines A
    assert abs(r["h_a_r"] - round(h_a, 9)) < 1e-9
    assert abs(r["u_b_given_a_r"] - round(mi / h_b, 9)) < 1e-9
    # constant column -> U against it is NULL
    const = spark.createDataFrame([("x", 1), ("x", 2)], "a string, b long")
    rc = theil_u(const, "a", "b").first()
    assert rc["u_a_given_b_r"] is None


def test_msttr_exact_and_partial_segments_dropped(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.text import msttr

    # doc: 2 full 5-token segments (4 and 3 distinct types) + a 2-token
    # remainder that must be DROPPED
    text = "a b c d a  e e f e g  h i"
    df = spark.createDataFrame([(1, text, "en")], "doc_id long, text string, lang string")
    r = msttr(df, segment_tokens=5).first()
    assert r["n_segments"] == 2 and r["n_tokens"] == 10
    assert r["msttr_r"] == round((4 + 3) / 10, 9)


def test_line_dup_profile_accounting(spark, sf001):
    """The profile must tile the corpus exactly: occurrence-weighted
    line counts and token masses sum back to the segmentation totals,
    and shares sum to 1."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import (
        line_duplication_profile,
    )
    from dbms_data_anonymity_differential_privacy_spark.queries_registry import load_table

    docs = load_table(spark, sf001, "documents")
    rows = line_duplication_profile(docs, line_tokens=4).collect()
    assert any(r["occurrences"] >= 2 for r in rows), "no duplicated lines?"
    total_tokens = docs.select(
        F.sum(F.size(F.split(F.trim("text"), r"\s+")))
    ).first()[0]
    assert sum(r["token_mass"] for r in rows) == total_tokens
    assert abs(sum(r["token_share_r"] for r in rows) - 1.0) < 1e-6
    for r in rows:
        assert r["n_line_occurrences"] == r["occurrences"] * r["n_distinct_lines"]


def test_vocab_coverage_monotone_and_exact(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.text import vocab_coverage

    # 3 types with counts 5, 3, 2 -> coverage at k=1: 0.5, k=2: 0.8, k=9: 1.0
    text = " ".join(["a"] * 5 + ["b"] * 3 + ["c"] * 2)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = {r["k"]: r for r in vocab_coverage(df, ks=(1, 2, 9)).collect()}
    assert rows[1]["coverage_r"] == 0.5 and rows[1]["vocab_size"] == 1
    assert rows[2]["coverage_r"] == 0.8
    assert rows[9]["coverage_r"] == 1.0 and rows[9]["vocab_size"] == 3
    # deterministic count-tie break by token asc: b before c at equal
    # counts is exercised by making them tie
    text2 = "a a b c"
    r2 = {r["k"]: r for r in vocab_coverage(
        spark.createDataFrame([(1, text2)], "doc_id long, text string"), ks=(2,)
    ).collect()}
    assert r2[2]["covered_occurrences"] == 3  # a(2) + b(1), not c


def test_renyi_generic_curve_sound_for_worst_case_pure_dp():
    """The accountant's delta=0 curve must DOMINATE the true RDP of the
    worst-case pure-DP release (binary randomized response) at every
    order — the Laplace-specific curve it replaced did not (review
    finding: it under-counted exponential/SVT spends)."""
    import math

    from dbms_data_anonymity_differential_privacy_spark.operators.dp import (
        _RDP_ALPHAS,
        RenyiBudget,
    )

    for eps in (0.25, 0.5, 1.0, 2.0):
        p = math.exp(eps) / (1.0 + math.exp(eps))
        q = 1.0 - p
        curve = RenyiBudget._curve(eps, 0.0)
        for a, charged in zip(_RDP_ALPHAS, curve):
            true_rr = math.log(p**a * q ** (1 - a) + q**a * p ** (1 - a)) / (a - 1)
            assert charged >= true_rr - 1e-12, (eps, a, charged, true_rr)
            # and the charge stays a real RDP curve (<= the pure-DP cap)
            assert charged <= eps + 1e-12


def test_capture_recapture_empty_detectors(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import (
        capture_recapture_audit,
    )

    empty = spark.createDataFrame([], "id_a long, id_b long")
    r = capture_recapture_audit(empty, empty).first()
    assert (r["n_a"], r["n_b"], r["n_both"]) == (0, 0, 0)
    assert r["chapman_r"] == 0.0 and r["lincoln_petersen_r"] is None


def test_minhash_audit_custom_columns(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import (
        minhash_jaccard_audit,
    )

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different words in this one here now"),
        ],
        "id long, body string",
    )
    rows = minhash_jaccard_audit(
        df, threshold=0.2, n=3, num_hashes=32, text_col="body", id_col="id"
    ).collect()
    assert rows and {(r["id_a"], r["id_b"]) for r in rows} == {(1, 2)}
