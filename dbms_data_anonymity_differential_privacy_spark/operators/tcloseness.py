"""t-closeness — SURVEY §2b C4 (filter) and C9 (violation counter).

Semantics (reference ``t-closeness.py``): after k-anonymity, compare each
QI equivalence class's sensitive-attribute distribution to the global
distribution with 1-D Earth Mover's Distance over the *sorted support
positions* (``t-closeness.py:62-67,81,200``: ``wasserstein_distance(
positions, positions, global_probs, group_probs)`` with positions
0..m-1). For unit-spaced positions this is exactly

    EMD = sum over positions p < m-1 of |CDF_class(p) - CDF_global(p)|

which we compute with a window cumulative sum — pure built-in SQL, fully
whole-stage-codegen'd and DuckDB-oracle-checkable. No per-group Python
loop (the reference loops classes in the driver; we shuffle once).

Mode quirk (SURVEY §3.4): the reference's *main pipeline* invokes its
check once per class, so the "global" distribution is the class itself and
the EMD test never rejects anything — only the k-filter acts. We default
to the intended Li/Li/Venkatasubramanian (ICDE 2007) semantics
(``mode='strict'``) and keep ``mode='reference'`` (k-filter only) to
replicate the published numbers.

Scale: the support (distinct sensitive values) is tiny → broadcast. The
class-distribution relation has |classes| x |support| rows — far smaller
than the fact table. The only big shuffle is the initial per-class count.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dbms_data_anonymity_differential_privacy_spark.operators.kanonymity import k_anonymize_suppress
from dbms_data_anonymity_differential_privacy_spark.operators.util import track_cached

ROUND_DP = 9


def sensitive_support(df: DataFrame, sensitive: str) -> DataFrame:
    """P21 — sorted distinct sensitive values with 1-based positions and the
    support size (reference ``t-closeness.py:62-63``). Tiny relation."""
    w = Window.orderBy(sensitive)
    return (
        df.select(sensitive)
        .where(F.col(sensitive).isNotNull())
        .distinct()
        .withColumn("pos", F.row_number().over(w))
        .withColumn("n_vals", F.count(F.lit(1)).over(Window.partitionBy()))
    )


def sensitive_distribution(
    df: DataFrame, group_cols: Sequence[str], sensitive: str
) -> DataFrame:
    """P14 — per-group normalized distribution of ``sensitive``, zero-filled
    over the full support (matches ``reindex(unique_vals, fill_value=0)``,
    reference ``t-closeness.py:66``).

    Returns ``(*group_cols, sensitive, pos, p)``. The zero-fill grid is
    (distinct groups) x (broadcast support) — never a shuffle of the fact
    table beyond the one per-group count.
    """
    support = sensitive_support(df, sensitive).drop("n_vals")
    counts = df.groupBy(*group_cols, sensitive).agg(F.count(F.lit(1)).alias("__cnt"))
    groups = counts.select(*group_cols).distinct()
    grid = groups.crossJoin(F.broadcast(support))
    dist = grid.join(counts, on=[*group_cols, sensitive], how="left").withColumn(
        "__cnt", F.coalesce(F.col("__cnt"), F.lit(0))
    )
    w_total = Window.partitionBy(*[F.col(c) for c in group_cols])
    return (
        dist.withColumn("p", F.col("__cnt") / F.sum("__cnt").over(w_total))
        .drop("__cnt")
    )


def class_emd(df: DataFrame, qi: Sequence[str], sensitive: str) -> DataFrame:
    """1-D EMD of each QI class's sensitive distribution vs the table-wide
    distribution: ``(*qi, emd)``.

    Window-cumsum formulation (exactly equivalent to scipy's
    ``wasserstein_distance`` on unit-spaced positions — verified in tests):
    cum = running sum over positions of (p_class - p_global); EMD = sum of
    |cum| over positions 1..m-1.

    Physical shape: the fact table is touched EXACTLY ONCE — one shuffle
    into the per-(class, sensitive-value) count relation. That relation is
    |classes| x |support| rows (tiny), persisted, and every downstream
    piece (support, global distribution, zero-fill grid, cumsum) derives
    from it. At 100 TB the big table contributes one aggregation; all EMD
    math happens on kilobytes.
    """
    counts = track_cached(
        df.groupBy(*qi, sensitive).agg(F.count(F.lit(1)).alias("__cnt")).persist()
    )
    return _emd_from_counts(counts, qi, sensitive)


def _emd_from_counts(counts: DataFrame, qi: Sequence[str], sensitive: str) -> DataFrame:
    """EMD math over a pre-aggregated ``(*qi, sensitive, __cnt)`` relation.
    Callers persist ``counts``: it feeds an eager collect of the global
    distribution here and the per-class aggregation after it.

    Shape (r11 rewrite): the sensitive support is SMALL BY DEFINITION in
    t-closeness (it is the attribute whose distribution is being
    protected), so the global distribution collects to the driver in one
    tiny job and the per-class EMD folds as ONE literal expression chain
    over a per-class count map — a single groupBy exchange over the
    already-aggregated counts relation. The previous window-cumsum
    formulation paid a zero-fill crossJoin grid, two global windows, two
    joins, a per-class running-sum window and a final re-aggregation —
    ~5 exchanges of kilobyte relations whose scheduling dominated the
    t-closeness pipelines at every scale (measured 2.9 s per chain over
    a 150-row counts relation at sf0.1).

    EXACT-ARITHMETIC twin of the window form, term by term:
    ``p_global_j = g_j / total`` (int64→double division, identical to
    the window-sum division), ``p_j = coalesce(cnt_j, 0) / class_size``
    with ``class_size`` summed over non-null-sensitive rows only (the
    zero-fill grid never matched nulls), the running ``cum_j`` built as
    the same left-fold ``cum_{j-1} + (p_j - pg_j)`` the pos-ordered
    window produced, and ``emd = |cum_1| + ... + |cum_{m-1}|`` folded in
    ascending position order — the order the pos-sorted window rows
    entered the old sum. A class whose every row has NULL sensitive kept
    an emd of 0.0 under the old form (the null-skipping sum saw only the
    final ``otherwise(0.0)`` row) — reproduced explicitly below.
    """
    nn = counts.where(F.col(sensitive).isNotNull())
    gd = nn.groupBy(sensitive).agg(F.sum("__cnt").alias("__g")).orderBy(sensitive).collect()
    if not gd:
        # no support values → the old zero-fill grid was empty → empty
        # (qi, emd) relation
        return counts.where(F.lit(False)).select(
            *qi, F.lit(0.0).cast("double").alias("emd")
        )
    total = 0
    for r in gd:
        total += r["__g"]  # exact int64 — order-free
    support = [r[sensitive] for r in gd]  # Spark-side sort: engine collation
    pg = [r["__g"] / total for r in gd]  # int/int → correctly-rounded double
    n_vals = len(support)

    entry = F.when(
        F.col(sensitive).isNotNull(),
        F.struct(F.col(sensitive).alias("k"), F.col("__cnt").alias("v")),
    )
    per_class = counts.groupBy(*qi).agg(
        F.map_from_entries(F.collect_list(entry)).alias("__m"),
        F.sum(F.when(F.col(sensitive).isNotNull(), F.col("__cnt"))).alias("__tot"),
    )
    cum = None
    emd_chain = None
    for j in range(n_vals):
        p_j = F.coalesce(F.col("__m")[F.lit(support[j])], F.lit(0)) / F.col("__tot")
        d_j = p_j - F.lit(pg[j])
        cum = d_j if cum is None else cum + d_j
        if j < n_vals - 1:
            term = F.abs(cum)
            emd_chain = term if emd_chain is None else emd_chain + term
    # all-null-sensitive classes (NULL __tot) released 0.0 under the old
    # null-skipping sum; n_vals == 1 released 0.0 for every class
    emd = (
        F.lit(0.0)
        if emd_chain is None
        else F.when(F.col("__tot").isNotNull(), emd_chain).otherwise(F.lit(0.0))
    )
    return per_class.select(*qi, F.round(emd, ROUND_DP).alias("emd"))


def _verdict_keys(
    counts: DataFrame, qi: Sequence[str], sensitive: str, k: int, t: float, mode: str
) -> DataFrame:
    """Keys of the classes that survive t-closeness suppression, derived
    from the persisted ``(*qi, sensitive, __cnt)`` relation: class sizes →
    k-filter → (strict mode) EMD to the post-k-anonymity distribution ≤ t.
    Shared by :func:`t_closeness_filter` and ``pipelines.t_closeness_pipeline``."""
    if mode not in ("strict", "reference"):
        raise ValueError(f"unknown mode: {mode}")
    sizes = counts.groupBy(*qi).agg(F.sum("__cnt").alias("__class_size"))
    big = sizes.filter(F.col("__class_size") >= F.lit(k)).select(*qi)
    if mode == "reference":
        return big  # SURVEY §3.4: as-written = k-filter only
    kcounts = track_cached(counts.join(big, on=list(qi), how="left_semi").persist())
    emd = _emd_from_counts(kcounts, qi, sensitive)
    return emd.filter(F.col("emd") <= F.lit(t)).select(*qi)


def t_closeness_filter(
    df: DataFrame,
    qi: Sequence[str],
    sensitive: str,
    k: int = 5,
    t: float = 0.2,
    mode: str = "strict",
) -> DataFrame:
    """C4 — k-anonymity then t-closeness suppression.

    ``mode='strict'``: drop classes whose EMD to the post-k-anonymity global
    distribution exceeds t (intended semantics; the reference's violation
    counter ``t-closeness.py:187-208`` implements this comparison).
    ``mode='reference'``: replicate the as-written pipeline
    (``t-closeness.py:110-115``) where the per-class self-comparison makes
    the EMD test vacuous — only the k-filter acts (SURVEY §3.4).

    Physical shape: the fact table is NEVER shuffled as whole rows. One
    aggregation produces the (class, sensitive, count) relation; class
    sizes, the k-filter, and the EMD verdict are all computed on that tiny
    relation; surviving class keys join back onto the fact scan as a
    plain semi join. The verdict relation is worst-case rows/k keys, so
    the join carries no hint: Spark's static ``autoBroadcastJoinThreshold``
    plus AQE's runtime join selection pick broadcast or shuffled (skew-
    split) semi join; the algebra is the same either way.
    """
    counts = track_cached(
        df.groupBy(*qi, sensitive).agg(F.count(F.lit(1)).alias("__cnt")).persist()
    )
    ok = _verdict_keys(counts, qi, sensitive, k, t, mode)
    return df.join(ok, on=list(qi), how="left_semi")


def l_diversity_filter(
    df: DataFrame, qi: Sequence[str], sensitive: str, l: int = 2, k: int = 1
) -> DataFrame:
    """Distinct l-diversity (Machanavajjhala et al., ICDE 2006): keep only
    equivalence classes with >= l distinct sensitive values (and >= k
    members). Not in the reference — included because k-anonymity +
    t-closeness without l-diversity leaves the homogeneity attack open;
    the three filters share one physical shape.

    Same plan as ``t_closeness_filter``: one aggregation to (class,
    #distinct-sensitive, size), verdict keys joined back with a plain semi
    join whose strategy Spark's threshold and AQE choose.
    """
    stats = df.groupBy(*qi).agg(
        F.countDistinct(sensitive).alias("__nsv"),
        F.count(F.lit(1)).alias("__sz"),
    )
    ok = stats.filter(
        (F.col("__nsv") >= F.lit(l)) & (F.col("__sz") >= F.lit(k))
    ).select(*qi)
    return df.join(ok, on=list(qi), how="left_semi").select(*df.columns)


def t_violations(df: DataFrame, qi: Sequence[str], sensitive: str, t: float = 0.2) -> DataFrame:
    """C9 — single-row report: #classes with EMD > t vs the table
    distribution, total classes, violation rate (reference
    ``t-closeness.py:186-208``)."""
    return _violation_row(class_emd(df, qi, sensitive), t)


def _violation_row(emd: DataFrame, t: float) -> DataFrame:
    """``violations, total_groups, violation_rate`` over a ``(*qi, emd)``
    relation — NULL violations/rate when it has no classes."""
    violated = F.sum(F.when(F.col("emd") > t, 1).otherwise(0))
    return emd.agg(
        violated.alias("violations"),
        F.count(F.lit(1)).alias("total_groups"),
        F.round(violated / F.count(F.lit(1)), ROUND_DP).alias("violation_rate"),
    )


def l_diversity_entropy_stats(
    df: DataFrame, qi: Sequence[str], sensitive: str
) -> DataFrame:
    """X39 — per-class sensitive-attribute entropy relation:
    ``(*qi, n_distinct, class_size, entropy_r)`` with the Shannon entropy
    (natural log) rounded to 9 dp. Entropy l-diversity (Machanavajjhala
    et al., ICDE 2006 §3) holds for a class iff ``entropy >= ln(l)``.

    Same counts-relation algebra as the EMD chain: ONE aggregation of the
    fact table to ``(class, sensitive, count)``; entropy derives from that
    slim relation (window sum for class size, then one more agg). The
    rounded relation is released (and oracle-hashed) rather than a
    filtered verdict because a perfectly uniform class with exactly l
    values sits EXACTLY on the ln(l) boundary in real arithmetic — a
    float verdict there is summation-order-dependent and engine-unstable,
    while the 9-dp entropy value itself is stable (c04_class_emd
    precedent). Use :func:`recursive_cl_diversity_filter` for an exact
    row-release variant.
    """
    cnts = df.groupBy(*qi, sensitive).agg(F.count(F.lit(1)).alias("__c"))
    w = Window.partitionBy(*[F.col(c) for c in qi])
    p = F.col("__c") / F.sum("__c").over(w)
    per_val = cnts.withColumn("__term", -p * F.log(p)).withColumn(
        "__sz", F.sum("__c").over(w)
    )
    return per_val.groupBy(*qi).agg(
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("__sz").alias("class_size"),
        F.round(F.sum("__term"), ROUND_DP).alias("entropy_r"),
    )


def entropy_l_diversity_filter(
    df: DataFrame, qi: Sequence[str], sensitive: str, l: float, k: int = 1
) -> DataFrame:
    """X39 — keep classes whose sensitive entropy is >= ln(l) (and size
    >= k). Boundary note: a class exactly at ln(l) (perfectly uniform
    over exactly l values) is kept or dropped by float comparison; see
    :func:`l_diversity_entropy_stats` for why the released STATS relation
    is the oracle surface instead of this verdict."""
    import math

    if l <= 1:
        raise ValueError("l must be > 1")
    stats = l_diversity_entropy_stats(df, qi, sensitive)
    ok = stats.filter(
        (F.col("entropy_r") >= F.lit(round(math.log(l), ROUND_DP)))
        & (F.col("class_size") >= F.lit(k))
    ).select(*qi)
    return df.join(F.broadcast(ok), on=list(qi), how="left_semi").select(*df.columns)


def recursive_cl_diversity_filter(
    df: DataFrame, qi: Sequence[str], sensitive: str, c: float, l: int, k: int = 1
) -> DataFrame:
    """X39 — recursive (c, l)-diversity (Machanavajjhala et al., ICDE 2006
    §3): with per-class sensitive counts sorted descending r1 >= ... >= rm,
    keep the class iff ``r1 < c * (r_l + r_{l+1} + ... + r_m)`` (so the
    most common value cannot dominate the tail) and class size >= k. A
    class with fewer than l distinct values has an empty tail and always
    fails — the distinct-l requirement is subsumed.

    All-integer verdict arithmetic over the counts relation — exact and
    engine-portable (unlike the entropy variant), so the filtered release
    itself is oracle-hashable. Physical shape: one fact aggregation, one
    window over the slim counts relation, verdict keys broadcast back.
    """
    if l < 2:
        raise ValueError("l must be >= 2")
    if c <= 0:
        raise ValueError("c must be positive")
    cnts = df.groupBy(*qi, sensitive).agg(F.count(F.lit(1)).alias("__c"))
    w = Window.partitionBy(*[F.col(col) for col in qi]).orderBy(
        F.col("__c").desc(), F.col(sensitive)
    )
    ranked = cnts.withColumn("__rn", F.row_number().over(w))
    verdict = ranked.groupBy(*qi).agg(
        F.max(F.when(F.col("__rn") == 1, F.col("__c"))).alias("__r1"),
        F.coalesce(
            F.sum(F.when(F.col("__rn") >= l, F.col("__c"))), F.lit(0)
        ).alias("__tail"),
        F.sum("__c").alias("__sz"),
    )
    ok = verdict.filter(
        (F.col("__r1") < F.lit(float(c)) * F.col("__tail")) & (F.col("__sz") >= F.lit(k))
    ).select(*qi)
    return df.join(F.broadcast(ok), on=list(qi), how="left_semi").select(*df.columns)


def beta_likeness_audit(
    df: DataFrame, qi: Sequence[str], sensitive: str, beta: float = 1.0
) -> DataFrame:
    """X51 — basic beta-likeness audit (Cao & Karras, PVLDB 5(11), 2012).

    t-closeness bounds the *overall* distance between a class's sensitive
    distribution and the global one; beta-likeness instead bounds the
    *per-value relative gain* an attacker gets: for every sensitive value
    s with global frequency q_s and in-class frequency p_s, the class
    must satisfy ``(p_s - q_s) / q_s <= beta``. (Only positive gains can
    leak — values rarer in the class than globally are harmless.)

    Output: ``(*qi, class_size, max_gain_r, violates)`` — the class's
    worst relative gain (9 dp) and the verdict against ``beta`` computed
    from the ROUNDED gain so both engines compare identical values.

    Exactness: p/q telescopes to ``(c_cs * N) / (n_c * g_s)`` — two exact
    int64 products and ONE IEEE-754 division, bit-stable across engines
    (no summation-order noise; the c04/x39 precedent). Physical shape:
    the fact table is aggregated ONCE into the (class, sensitive, count)
    relation; global frequencies and totals derive from that slim
    relation and broadcast back onto it.
    """
    if beta <= 0:
        raise ValueError("beta must be positive")
    counts = df.groupBy(*qi, sensitive).agg(F.count(F.lit(1)).alias("__c"))
    gl = counts.groupBy(sensitive).agg(F.sum("__c").alias("__g"))
    gl = gl.withColumn("__n", F.sum("__g").over(Window.partitionBy()))
    w_class = Window.partitionBy(*[F.col(c) for c in qi])
    per_val = (
        counts.join(F.broadcast(gl), on=sensitive, how="inner")
        .withColumn("__sz", F.sum("__c").over(w_class))
        .withColumn(
            "__gain",
            (F.col("__c") * F.col("__n")).cast("double")
            / (F.col("__sz") * F.col("__g")).cast("double")
            - F.lit(1.0),
        )
    )
    out = per_val.groupBy(*qi).agg(
        F.max("__sz").alias("class_size"),
        F.round(F.max("__gain"), ROUND_DP).alias("max_gain_r"),
    )
    return out.withColumn("violates", F.col("max_gain_r") > F.lit(float(beta)))


def ak_anonymity_audit(
    df: DataFrame,
    qi: Sequence[str],
    sensitive: str,
    k: int = 5,
    alpha: float = 0.5,
) -> DataFrame:
    """X101 — (alpha, k)-anonymity audit (Wong et al., PAKDD 2006).

    The k-anonymity refinement that predates l-diversity: every QI class
    must have size >= k AND no single sensitive value may dominate a
    class — its in-class frequency must satisfy ``count(s) <= alpha *
    class_size``. (k alone permits a class of 50 rows that ALL share one
    diagnosis; alpha caps the homogeneity attack directly.)

    Output per class: ``(*qi, class_size, max_sens_count, max_share_r,
    k_ok, alpha_ok, ak_ok)`` — the dominant sensitive value's count and
    6-dp share, plus the three verdicts. The alpha comparison runs on
    exact integers vs one IEEE product (``max_count <= alpha *
    class_size`` — one double multiply, bit-identical across engines);
    the rounded share is released for reporting only.

    Physical shape (the x39/x51 counts-relation convention): ONE fact
    aggregation to the (class, sensitive, count) relation; class size
    and the dominant count come from re-aggregating that slim relation —
    fact rows are touched exactly once.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if not 0 < alpha <= 1:
        raise ValueError("alpha must be in (0, 1]")
    counts = df.groupBy(*qi, sensitive).agg(F.count(F.lit(1)).alias("__c"))
    per_class = counts.groupBy(*qi).agg(
        F.sum("__c").alias("class_size"),
        F.max("__c").alias("max_sens_count"),
    )
    k_ok = F.col("class_size") >= k
    alpha_ok = F.col("max_sens_count") <= F.lit(float(alpha)) * F.col("class_size")
    return per_class.select(
        *qi,
        "class_size",
        "max_sens_count",
        F.round(F.col("max_sens_count") / F.col("class_size"), 6).alias("max_share_r"),
        k_ok.alias("k_ok"),
        alpha_ok.alias("alpha_ok"),
        (k_ok & alpha_ok).alias("ak_ok"),
    )


def m_invariance_audit(
    release_a: DataFrame,
    release_b: DataFrame,
    qi: Sequence[str],
    sensitive: str,
    m: int = 2,
) -> DataFrame:
    """X106 — m-invariance audit for serial publication (Xiao & Tao,
    SIGMOD 2007): when the SAME table is anonymized and published
    repeatedly (monthly census, refreshed data product), an attacker
    intersects the sensitive-value sets of a victim's class ACROSS
    releases — each individually-safe release can jointly pinpoint the
    value. m-invariance requires every class to (1) offer at least ``m``
    distinct sensitive values in each release and (2) keep an IDENTICAL
    sensitive signature across releases (so intersection learns nothing
    new).

    This audits two releases: per QI class, each release's signature
    (sorted distinct sensitive values, released as a comma-joined string
    — canonical and hash-stable), its distinct count, and the verdict:
    ``invariant`` (signatures equal, both >= m), ``weak`` (equal but
    under m), ``changed`` (both present, different signature — the
    intersection-attack surface), ``only_a``/``only_b`` (class appears
    in one release only).

    Shape: one (class, sensitive)-level aggregation per release — the
    signature is collected over the distinct slim relation, never fact
    rows — then a class-keyed full-outer join of two class-sized
    relations.

    Output: ``(*qi, sig_a, sig_b, m_a, m_b, status)``.
    """
    if m < 1:
        raise ValueError("m must be >= 1")

    def signature(rel: DataFrame, suffix: str) -> DataFrame:
        return (
            rel.select(*qi, F.col(sensitive).alias("__s"))
            .distinct()
            .groupBy(*qi)
            .agg(
                F.concat_ws(",", F.sort_array(F.collect_set("__s"))).alias(f"sig_{suffix}"),
                F.count(F.lit(1)).alias(f"m_{suffix}"),
            )
        )
    a = signature(release_a, "a")
    b = signature(release_b, "b")
    j = a.join(b, list(qi), "full_outer")
    status = (
        F.when(F.col("sig_a").isNull(), F.lit("only_b"))
        .when(F.col("sig_b").isNull(), F.lit("only_a"))
        .when(
            (F.col("sig_a") == F.col("sig_b"))
            & (F.col("m_a") >= m)
            & (F.col("m_b") >= m),
            F.lit("invariant"),
        )
        .when(F.col("sig_a") == F.col("sig_b"), F.lit("weak"))
        .otherwise(F.lit("changed"))
    )
    return j.select(*qi, "sig_a", "sig_b", "m_a", "m_b", status.alias("status"))
