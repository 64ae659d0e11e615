"""Property-based invariants (SURVEY §5) — hypothesis-generated inputs,
post-conditions that must hold for ANY data, not just the fixtures.

Each example runs real Spark jobs, so example counts are kept small; the
properties target the documented hard parts: bin edge conditions (§7c),
suppression monotonicity, EMD bounds, DP determinism.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

floats = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)


@given(vals=st.lists(floats, min_size=1, max_size=50), n_bins=st.integers(2, 8))
@settings(**SETTINGS)
def test_equal_width_bin_bounds_and_monotone(spark, vals, n_bins):
    from dbms_data_anonymity_differential_privacy_spark.functions.binning import bin_equal_width

    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    out = bin_equal_width(df, "x", n_bins, "b").select("x", "b").collect()
    got = {r["x"]: r["b"] for r in out}
    lo, hi = min(vals), max(vals)
    for r in out:
        assert 0 <= r["b"] <= n_bins - 1
    # extremes pin to the first/last bin
    assert got[lo] == 0
    assert got[hi] == (0 if lo == hi else n_bins - 1)
    # monotone in x
    ordered = sorted(out, key=lambda r: r["x"])
    for a, b in zip(ordered, ordered[1:]):
        assert a["b"] <= b["b"]


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 2)), min_size=1, max_size=60
    ),
    k=st.integers(1, 6),
)
@settings(**SETTINGS)
def test_suppression_postcondition_and_monotonicity(spark, rows, k):
    from dbms_data_anonymity_differential_privacy_spark.operators.kanonymity import k_anonymize_suppress

    df = spark.createDataFrame([(a, b, i) for i, (a, b) in enumerate(rows)], "a int, b int, rid int")
    anon = k_anonymize_suppress(df, ["a", "b"], k)
    sizes = anon.groupBy("a", "b").count().collect()
    for r in sizes:
        assert r["count"] >= k
    # monotone: a stricter k keeps a subset of rows
    anon_stricter = k_anonymize_suppress(df, ["a", "b"], k + 1)
    kept = {r["rid"] for r in anon.select("rid").collect()}
    kept_stricter = {r["rid"] for r in anon_stricter.select("rid").collect()}
    assert kept_stricter <= kept


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.sampled_from(["x", "y", "z"])),
        min_size=2,
        max_size=60,
    )
)
@settings(**SETTINGS)
def test_emd_bounds(spark, rows):
    """1-D EMD over m unit-spaced positions is within [0, m-1]; a table
    with a single class has EMD exactly 0 (class dist == global dist)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.tcloseness import class_emd

    df = spark.createDataFrame(rows, "g int, s string")
    emd = {r["g"]: r["emd"] for r in class_emd(df, ["g"], "s").collect()}
    m = df.select("s").distinct().count()
    for v in emd.values():
        assert -1e-9 <= v <= m - 1 + 1e-9
    one = df.select(F.lit(0).alias("g"), "s")
    sole = class_emd(one, ["g"], "s").collect()
    assert len(sole) == 1 and abs(sole[0]["emd"]) < 1e-12


@given(seed=st.integers(0, 2**31 - 1), eps=st.floats(0.1, 5.0))
@settings(**SETTINGS)
def test_dp_count_deterministic_per_seed(spark, seed, eps):
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_count

    df = spark.createDataFrame([(i % 3,) for i in range(30)], "g int")
    a = {r["g"]: r["count_dp"] for r in dp_count(df, ["g"], eps, seed, release="t").collect()}
    # repartitioning must not change the release (retry/AQE safety)
    b = {
        r["g"]: r["count_dp"]
        for r in dp_count(df.repartition(7), ["g"], eps, seed, release="t").collect()
    }
    assert a == b
    for g, v in a.items():
        assert math.isfinite(v)
        # noise is centered at the exact count; scale 1/eps — 60/eps is
        # beyond any plausible draw (P < 1e-26), catches mis-scaled noise
        assert abs(v - 10.0) < 60.0 / eps


@given(
    docs=st.lists(
        st.lists(st.sampled_from(list("abcdefgh")), min_size=0, max_size=12),
        min_size=2,
        max_size=25,
    ),
    threshold=st.sampled_from([0.1, 0.2, 0.34, 0.5, 0.75]),
)
@settings(**SETTINGS)
def test_ngram_jaccard_prefix_filter_exact(spark, docs, threshold):
    """The rare-first prefix-filtered implementation must produce EXACTLY
    the pairs a brute-force all-pairs Jaccard produces (the prefix filter
    is a pruning, never an approximation)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import ngram_jaccard_pairs

    n = 2
    texts = [" ".join(toks) for toks in docs]
    sdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            sdf, threshold=threshold, n=n, prefix_filter=True
        ).collect()
    }
    got_plain = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            sdf, threshold=threshold, n=n, prefix_filter=False
        ).collect()
    }
    assert got == got_plain

    def shingle_set(toks: list[str]) -> set[str]:
        return {" ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 0))}

    want = set()
    sets = [shingle_set(t) for t in docs]
    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            a, b = sets[i], sets[j]
            if not a or not b:
                continue
            jac = len(a & b) / len(a | b)
            if round(jac, 9) >= threshold:
                want.add((i, j))
    assert got == want


# --- round-3 text ops: properties over arbitrary text -----------------------

@given(
    names=st.lists(
        st.text(alphabet="abc", min_size=0, max_size=6), min_size=1, max_size=12
    )
)
@settings(**SETTINGS)
def test_fastss_equals_brute_force_on_arbitrary_strings(spark, names):
    """FastSS candidate generation + verification returns EXACTLY the
    lev<=1 pairs on arbitrary (tiny-alphabet, collision-heavy) corpora —
    including empty strings and exact duplicates."""
    from itertools import combinations

    from dbms_data_anonymity_differential_privacy_spark.operators.linkage import fuzzy_pairs_fastss

    rows = list(enumerate(names))
    df = spark.createDataFrame(rows, "id long, name string")
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in fuzzy_pairs_fastss(df, "name", "id").collect()
    }

    def lev(a, b):
        d = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, d[0] = d[0], i
            for j, cb in enumerate(b, 1):
                prev, d[j] = d[j], min(d[j] + 1, d[j - 1] + 1, prev + (ca != cb))
        return d[-1]

    want = {
        (i, j): lev(a, b)
        for (i, a), (j, b) in combinations(rows, 2)
        if lev(a, b) <= 1
    }
    assert got == want


@given(
    rows=st.lists(
        st.tuples(st.sampled_from("pqr"), st.sampled_from("xyz"), st.integers(0, 999)),
        min_size=1,
        max_size=60,
    ),
    k=st.integers(1, 4),
)
@settings(**SETTINGS)
def test_rollup_release_invariants(spark, rows, k):
    """Every released cell has >= k contributors; within each level the
    released cent totals are a subset-sum of the grand total; leaf cells
    (level 0) match a plain groupBy."""
    from dbms_data_anonymity_differential_privacy_spark.operators.rollup import rollup_release

    df = spark.createDataFrame(rows, "a string, b string, cents long")
    out = rollup_release(df, ["a", "b"], k=k, cents_col="cents").collect()
    assert all(t.n_rows >= k for t in out)
    import collections

    leaf_want = collections.Counter()
    cent_want = collections.Counter()
    for a, b, c in rows:
        leaf_want[(a, b)] += 1
        cent_want[(a, b)] += c
    for t in out:
        if t.level == 0:
            assert t.n_rows == leaf_want[(t.a, t.b)]
            assert t.sum_cents == cent_want[(t.a, t.b)]
        elif t.level == 3:  # grand total
            assert t.n_rows == len(rows)
            assert t.sum_cents == sum(c for _, _, c in rows)


@given(
    docs=st.lists(
        st.lists(st.sampled_from("ab"), min_size=0, max_size=12).map(" ".join),
        min_size=1,
        max_size=8,
    ),
    window=st.integers(2, 4),
)
@settings(**SETTINGS)
def test_repeated_span_stats_equals_brute_force(spark, docs, window):
    """x40 on arbitrary tiny-alphabet corpora == a pure-Python reference:
    same flagged docs, same span counts, same interval-union coverage."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import repeated_span_stats

    rows = list(enumerate(docs))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_dup_spans, r.dup_tokens, r.n_tokens)
        for r in repeated_span_stats(df, window=window).collect()
    }

    # brute force with the same normalization (split of trimmed/lowered
    # text; empty text -> [''] like Spark's split)
    toks = {i: (t.strip().lower().split(" ") if t.strip() else [""]) for i, t in rows}
    spans = {}
    for i, ts in toks.items():
        for p in range(len(ts) - window + 1):
            spans.setdefault(tuple(ts[p : p + window]), []).append((i, p))
    dup = {g for g, occ in spans.items() if len({i for i, _ in occ}) >= 2}
    want = {}
    for i, ts in toks.items():
        marks = sorted(
            p for g in dup for (j, p) in spans[g] if j == i
        )
        if not marks:
            continue
        covered = set()
        for p in marks:
            covered.update(range(p, p + window))
        want[i] = (len(marks), len(covered), len(ts))
    assert got == want


@given(
    vecs=st.lists(
        st.lists(
            st.floats(min_value=-100, max_value=100, allow_nan=False, allow_infinity=False, width=32),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(**SETTINGS)
def test_quantization_properties(spark, vecs):
    from dbms_data_anonymity_differential_privacy_spark.operators.embeddings import (
        dequantize,
        quantize_embeddings,
    )

    # pad to a rectangular batch (the operator is per-row; ragged is fine,
    # but padding keeps the toPandas comparison simple)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    out = dequantize(quantize_embeddings(df)).collect()
    for r in out:
        scale = r["q_scale"]
        assert scale >= 0.0
        for q, orig, rec in zip(r["qvec"], r["embedding"], r["vec_approx"]):
            assert -127 <= q <= 127
            # reconstruction error bounded by half a quantization step
            assert abs(rec - float(orig)) <= scale * (0.5 / 127) + 1e-9


@given(
    vals=st.lists(
        st.one_of(st.integers(-50, 50), st.none()), min_size=1, max_size=60
    )
)
@settings(**SETTINGS)
def test_profile_matches_python(spark, vals):
    from dbms_data_anonymity_differential_privacy_spark.operators.profile import profile_columns

    df = spark.createDataFrame([(v,) for v in vals], "a long")
    r = profile_columns(df, ["a"]).collect()[0]
    present = [v for v in vals if v is not None]
    assert r["n_rows"] == len(vals)
    assert r["n_nulls"] == len(vals) - len(present)
    assert r["n_distinct"] == len(set(present))
    if present:
        assert r["min_value"] == f"{min(present)}.000000000"
        assert r["max_value"] == f"{max(present)}.000000000"
    else:
        assert r["min_value"] is None and r["max_value"] is None


@given(
    vals=st.lists(st.integers(0, 6), min_size=1, max_size=80),
    k=st.integers(1, 8),
)
@settings(**SETTINGS)
def test_heavy_hitter_bounds_any_data(spark, vals, k):
    from collections import Counter

    from dbms_data_anonymity_differential_privacy_spark.operators.sketch import heavy_hitters

    df = spark.createDataFrame([(v,) for v in vals], "v long").repartition(3)
    out = heavy_hitters(df, "v", k=k).collect()
    exact = Counter(vals)
    err = out[0]["err_bound"] if out else len(vals)
    assert err <= len(vals) / (k + 1)
    got = {r["value"]: r["est_count"] for r in out}
    for v, est in got.items():
        assert est <= exact[v] <= est + err
    topk = sorted(exact.values(), reverse=True)[:k]
    for v, c in exact.items():
        if c > err and c in topk and len(got) < k:
            assert v in got


@given(
    obs=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 1)), min_size=1, max_size=60
    )
)
@settings(**SETTINGS)
def test_kaplan_meier_matches_textbook_product_any_data(spark, obs):
    """KM over arbitrary (duration, event) observations — heavy ties,
    censoring at death times, and full-cohort-death (zero-factor) cases
    all land here — must equal the sequential textbook product computed
    independently in Python, with correct at-risk counts and a row per
    death time only."""
    from collections import Counter

    from dbms_data_anonymity_differential_privacy_spark.operators.stats import kaplan_meier

    df = spark.createDataFrame(obs, "duration int, event int").repartition(3)
    out = kaplan_meier(df).collect()

    deaths = Counter(t for t, e in obs if e == 1)
    at_time = Counter(t for t, _ in obs)
    s = 1.0
    expect = {}
    n_risk = len(obs)
    for t in sorted(at_time):
        d = deaths.get(t, 0)
        if d:
            s *= 1.0 - d / n_risk
            expect[t] = (n_risk, d, s)
        n_risk -= at_time[t]

    assert {r["t"] for r in out} == set(expect)
    prev = 1.0
    for r in sorted(out, key=lambda r: r["t"]):
        n, d, sv = expect[r["t"]]
        assert r["n_risk"] == n and r["d_events"] == d
        assert abs(r["survival_r"] - sv) <= 1e-8
        assert 0.0 <= r["survival_r"] <= prev + 1e-12  # monotone non-increasing
        prev = r["survival_r"]


@given(
    a_vals=st.lists(st.integers(0, 5), min_size=1, max_size=40),
    b_vals=st.lists(st.integers(0, 5), min_size=1, max_size=40),
)
@settings(**SETTINGS)
def test_mann_whitney_u_matches_bruteforce_any_data(spark, a_vals, b_vals):
    """U from the distinct-value cumsum formulation must equal the
    brute-force pairwise definition (wins + half-ties) exactly, for any
    tie structure; z must match the tie-corrected normal approximation
    computed independently (or be NULL exactly when sigma == 0, i.e. all
    values identical)."""
    import math

    from dbms_data_anonymity_differential_privacy_spark.operators.stats import mann_whitney_u

    rows = [(float(v), "a") for v in a_vals] + [(float(v), "b") for v in b_vals]
    df = spark.createDataFrame(rows, "v double, g string").repartition(3)
    r = mann_whitney_u(df, "v", "g", "a", "b").collect()[0]

    u_brute = sum(
        1.0 if x > y else (0.5 if x == y else 0.0) for x in a_vals for y in b_vals
    )
    na, nb = len(a_vals), len(b_vals)
    assert (r["n_a"], r["n_b"]) == (na, nb)
    assert abs(r["u_a_r"] - u_brute) <= 1e-9

    from collections import Counter

    n = na + nb
    ties = sum(t**3 - t for t in Counter(a_vals + b_vals).values())
    var = na * nb / 12.0 * ((n + 1) - ties / (n * (n - 1))) if n > 1 else 0.0
    if var <= 0:
        assert r["z_r"] is None
    else:
        z = (u_brute - na * nb / 2.0) / math.sqrt(var)
        assert abs(r["z_r"] - z) <= 1e-6


@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(0, 10_000)),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[1],
    ),
    f1=st.floats(0.05, 0.9),
    f2=st.floats(0.05, 0.5),
)
@settings(**SETTINGS)
def test_stratified_split_exact_quotas_any_data(spark, rows, f1, f2):
    """x84 property: for ANY strata sizes and fractions (sum <= 1), every
    stratum gets exactly floor(n*cum_k) rows through boundary k, the
    remainder is NULL iff the fractions sum below 1, and assignment is a
    function of the key alone (layout-independent by construction)."""
    import math
    from collections import Counter

    from dbms_data_anonymity_differential_privacy_spark.operators.sampling import (
        stratified_split,
    )

    if f1 + f2 > 1.0:
        f2 = 1.0 - f1
    df = spark.createDataFrame(rows, "s string, k long").repartition(3)
    out = stratified_split(df, ["s"], ["k"], [("x", f1), ("y", f2)], salt="h").collect()
    n_by = Counter(r.s for r in out)
    got = Counter((r.s, r.split) for r in out)
    for s, n in n_by.items():
        b1 = math.floor(n * f1)
        b2 = math.floor(n * (f1 + f2))
        assert got[(s, "x")] == b1
        assert got[(s, "y")] == b2 - b1
        assert got[(s, None)] == n - b2


@given(
    weights=st.lists(st.integers(1, 50), min_size=1, max_size=25),
)
@settings(**SETTINGS)
def test_weighted_median_matches_bruteforce_any_weights(spark, weights):
    """X115 over arbitrary integer weights: the released value equals the
    brute-force expansion's lower median."""
    from dbms_data_anonymity_differential_privacy_spark.operators.metrics import weighted_median

    rows = [("g", float(i), w) for i, w in enumerate(weights)]
    df = spark.createDataFrame(rows, "g string, v double, w long")
    got = weighted_median(df, ["g"], "v", "w").collect()[0]
    expanded = sorted(v for (_, v, w) in rows for _ in range(w))
    n = len(expanded)
    # lower weighted median == element at ceil(n/2)-1 of the expansion
    expected = expanded[(n + 1) // 2 - 1]
    assert got.weighted_median == expected
    assert got.w_total == n


@given(
    counts=st.lists(st.integers(1, 30), min_size=2, max_size=12),
    alpha=st.sampled_from([0.3, 0.5, 0.7]),
)
@settings(**SETTINGS)
def test_ewma_matches_python_fold_any_series(spark, counts, alpha):
    """X104 over arbitrary bucket series: every released value equals the
    pure-Python truncated weighted fold."""
    import datetime as dt

    from dbms_data_anonymity_differential_privacy_spark.operators.stats import ewma_smooth

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("g", t0 + dt.timedelta(hours=i))
        for i, c in enumerate(counts)
        for _ in range(c)
    ]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    W = 4
    got = {
        r.bucket_start.hour + 24 * (r.bucket_start.day - 1): r.ewma_r
        for r in ewma_smooth(df, ["event_type"], alpha=alpha, window=W).collect()
    }
    wts = [alpha * (1 - alpha) ** i for i in range(W)]
    for i, _ in enumerate(counts):
        xs = counts[max(0, i - W + 1) : i + 1]
        num = sum(x * wts[len(xs) - 1 - j] for j, x in enumerate(xs))
        den = sum(wts[: len(xs)])
        assert got[i] == pytest.approx(round(num / den, 6), abs=2e-6)


# ---------------------------------------------------------------------------
# X178 winnowing invariants (round 7): the two paper theorems, on ANY
# token stream — (1) spacing: consecutive selected positions are at most
# w apart; (2) coverage: any window of w consecutive k-grams contains at
# least one selected position. A pure-Python reference implementation of
# rightmost-min winnowing must agree exactly with the engine.
# ---------------------------------------------------------------------------

tokens_strategy = st.lists(
    st.sampled_from([f"t{i}" for i in range(7)]), min_size=8, max_size=60
)


def _winnow_reference(toks: list[str], k: int, w: int) -> set[tuple[str, int]]:
    import hashlib

    grams = [
        hashlib.md5(" ".join(toks[i : i + k]).encode()).hexdigest()
        for i in range(len(toks) - k + 1)
    ]
    sel: set[tuple[str, int]] = set()
    last_start = max(len(grams) - w, 0)
    for a in range(last_start + 1):
        win = grams[a : a + w]
        m = min(win)
        pos = a + max(i for i, h in enumerate(win) if h == m)  # rightmost min
        sel.add((grams[pos], pos))
    return sel


@given(toks=tokens_strategy)
@settings(**SETTINGS)
def test_winnowing_matches_reference_and_theorems(spark, toks):
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import (
        winnow_fingerprints,
    )

    k, w = 3, 4
    df = spark.createDataFrame([(0, " ".join(toks))], "doc_id LONG, text STRING")
    got = {(r.h, r.fpos) for r in winnow_fingerprints(df, k=k, w=w).collect()}
    assert got == _winnow_reference([t.lower() for t in toks], k, w)
    positions = sorted(p for _h, p in got)
    for a, b in zip(positions, positions[1:]):
        assert b - a <= w  # spacing theorem
    n_grams = len(toks) - k + 1
    for a in range(max(n_grams - w, 0) + 1):  # coverage theorem
        assert any(a <= p <= a + w - 1 for p in positions)
