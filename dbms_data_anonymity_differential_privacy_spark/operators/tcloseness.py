"""t-closeness — SURVEY §2b C4 (filter) and C9 (violation counter).

Semantics (reference ``t-closeness.py``): after k-anonymity, compare each
QI equivalence class's sensitive-attribute distribution to the global
distribution with 1-D Earth Mover's Distance over the *sorted support
positions* (``t-closeness.py:62-67,81,200``: ``wasserstein_distance(
positions, positions, global_probs, group_probs)`` with positions
0..m-1). For unit-spaced positions this is exactly

    EMD = sum over positions p < m-1 of |CDF_class(p) - CDF_global(p)|

Shape: every t-closeness quantity — class sizes, the k-filter, the global
distribution, each class's EMD — is a function of the (class, sensitive
value, count) table, which is bounded by |classes| x |support|, not by
the row count. :func:`class_emd`, :func:`t_violations`,
:func:`t_closeness_filter` and ``pipelines.t_closeness_pipeline`` run ONE
aggregation of the fact table and collect that table
(``kanonymity.collect_tuple_counts``: above ``MAX_QI_TUPLES`` rows it
refuses with ``QITupleLimitError``). The EMDs fold on the driver
(:class:`ClassTable`), and results come back as local relations, so
collecting them runs no job; nothing is persisted. Filtered rows are the
fact scan semi-joined to the local relation of kept class keys.

Exactness: the fold is, term by term, the IEEE-754 double arithmetic of
the Spark expression chain it replaced (see :meth:`ClassTable.emd`), and
rounding to 9 dp stays Spark's own ``ROUND``, evaluated as a projection
over a local relation, which the optimizer folds without a job. A
verdict on a rounded EMD is therefore the one SQL gives, also within
1e-12 of ``t``.

Mode quirk (SURVEY §3.4): the reference's *main pipeline* invokes its
check once per class, so the "global" distribution is the class itself and
the EMD test never rejects anything — only the k-filter acts. We default
to the intended Li/Li/Venkatasubramanian (ICDE 2007) semantics
(``mode='strict'``) and keep ``mode='reference'`` (k-filter only) to
replicate the published numbers.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbms_data_anonymity_differential_privacy_spark.operators.kanonymity import (
    TUPLE_COUNT_COL,
    collect_tuple_counts,
)
from dbms_data_anonymity_differential_privacy_spark.operators.util import local_relation

ROUND_DP = 9

_NAN = float("nan")


def _canon(v):
    """One NaN object for every NaN, so Python keys group NaNs as Spark
    does (a NaN equals itself only by identity)."""
    return _NAN if isinstance(v, float) and v != v else v


def _spark_order(v):
    """Sort key of a non-NULL value in Spark's ascending order: NaN after
    every other double; strings by code point, which is UTF-8 byte order."""
    return (v != v, v)


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


class ClassTable:
    """The collected ``(class, sensitive value, count)`` table of ``df``
    and the driver-side EMD fold over it.

    ``size`` maps each class key (the tuple of its QI values; NULL-QI
    classes included, as ``groupBy`` keeps them) to its row count, NULL
    sensitive rows included; ``counts`` maps it to its non-NULL sensitive
    values' row counts. NaN keys and values are one object (:func:`_canon`).
    """

    def __init__(self, df: DataFrame, qi: Sequence[str], sensitive: str, hint: str) -> None:
        self.df, self.qi = df, tuple(qi)
        self.size: dict[tuple, int] = {}
        self.counts: dict[tuple, dict] = {}
        n = len(self.qi)
        for r in collect_tuple_counts(df, [*self.qi, sensitive], hint):
            key = tuple(_canon(v) for v in r[:n])
            value, cnt = _canon(r[n]), r[TUPLE_COUNT_COL]
            self.size[key] = self.size.get(key, 0) + cnt
            per = self.counts.setdefault(key, {})
            if value is not None:
                per[value] = cnt

    def k_classes(self, k: int) -> list[tuple]:
        """Classes of at least ``k`` rows whose keys a semi join can match:
        a NULL QI value equals nothing."""
        return [c for c, n in self.size.items() if n >= k and None not in c]

    def emd(self, classes: Sequence[tuple]) -> list[float]:
        """Unrounded EMD of each of ``classes`` against the distribution of
        ``classes`` together; ``[]`` when they hold no non-NULL sensitive
        value.

        The double arithmetic of the former Spark chain, term by term:
        ``pg_j = g_j / total`` and ``p_j = cnt_j / class_total`` are
        int / int divisions (Spark casts both longs to double, exact below
        2^53, then divides), ``cum_j = cum_{j-1} + (p_j - pg_j)`` and
        ``emd = |cum_1| + ... + |cum_{m-1}|`` fold in ascending support
        order. A class whose sensitive values are all NULL, and every class
        of a one-value support, gets 0.0.
        """
        glob: dict = {}
        for c in classes:
            for v, cnt in self.counts[c].items():
                glob[v] = glob.get(v, 0) + cnt
        support = sorted(glob, key=_spark_order)
        total = sum(glob.values())
        pg = [glob[v] / total for v in support]
        out = []
        for c in classes if support else ():
            per = self.counts[c]
            tot = sum(per.values())
            cum = emd = None
            for j, v in enumerate(support[:-1] if per else ()):
                d = per.get(v, 0) / tot - pg[j]
                cum = d if cum is None else cum + d
                emd = abs(cum) if emd is None else emd + abs(cum)
            out.append(0.0 if emd is None else emd)
        return out

    def keys(self, classes: Sequence[tuple]) -> DataFrame:
        """``classes`` as a local relation of QI keys, typed as in ``df``."""
        schema = T.StructType([self.df.schema[c] for c in self.qi])
        return local_relation(self.df.sparkSession, schema, classes)


def spark_round(spark, values: Sequence[float]) -> list[float]:
    """``values`` rounded to ``ROUND_DP`` by Spark's own ``ROUND`` (which
    rounds the JVM's decimal string of a double, not its binary value),
    folded over a local relation: no job."""
    schema = T.StructType([T.StructField("v", T.DoubleType())])
    rel = local_relation(spark, schema, [(v,) for v in values])
    return [r[0] for r in rel.select(F.round("v", ROUND_DP)).collect()]


# the raw fields of the violation report, as a local relation holds them
VIOLATION_FIELDS = [
    T.StructField("violations", T.LongType()),
    T.StructField("total_groups", T.LongType(), False),
]


def violation_fields(rounded: Sequence[float], t: float) -> tuple[int | None, int]:
    """``(violations, total_groups)`` over rounded class EMDs: classes
    with EMD > t, and classes; violations is NULL over no class, as
    SQL's SUM is."""
    return (sum(e > t for e in rounded) if rounded else None), len(rounded)


def violation_cols() -> list[Column]:
    """``violations, total_groups, violation_rate`` over a relation that
    holds the first two (:func:`violation_fields`)."""
    return [
        F.col("violations"),
        F.col("total_groups"),
        F.round(F.col("violations") / F.col("total_groups"), ROUND_DP).alias("violation_rate"),
    ]


_HINT = "bin the QIs first (e.g. functions.binning.bin_equal_width)"


def class_emd(df: DataFrame, qi: Sequence[str], sensitive: str) -> DataFrame:
    """1-D EMD of each QI class's sensitive distribution vs the table-wide
    distribution: ``(*qi, emd)``, rounded to 9 dp — a local relation.

    Equivalent to scipy's ``wasserstein_distance`` on unit-spaced
    positions (verified in tests). The fact table is aggregated once into
    the (class, sensitive value, count) table; the EMDs fold on the
    driver (:meth:`ClassTable.emd`).
    """
    table = ClassTable(df, qi, sensitive, _HINT)
    classes = list(table.size)
    emd = table.emd(classes)
    spark = df.sparkSession
    schema = T.StructType(
        [df.schema[c] for c in qi] + [T.StructField("emd", T.DoubleType(), False)]
    )
    rows = [(*c, e) for c, e in zip(classes, emd)]
    return local_relation(spark, schema, rows).select(
        *qi, F.round("emd", ROUND_DP).alias("emd")
    )


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
    aggregation produces the collected (class, sensitive, count) table;
    class sizes, the k-filter and the EMD verdicts are computed from it on
    the driver; the kept class keys, a local relation, join back onto the
    fact scan as a plain semi join. That relation is worst-case rows/k
    keys, so the join carries no hint: Spark's
    ``autoBroadcastJoinThreshold`` plus AQE's runtime join selection pick
    broadcast or shuffled semi join; the algebra is the same either way.
    """
    check_mode(mode)
    table = ClassTable(df, qi, sensitive, _HINT)
    ok = verdict_classes(table, k, t, mode)
    return df.join(table.keys(ok), on=list(qi), how="left_semi")


def check_mode(mode: str) -> None:
    if mode not in ("strict", "reference"):
        raise ValueError(f"unknown mode: {mode}")


def verdict_classes(table: ClassTable, k: int, t: float, mode: str) -> list[tuple]:
    """Classes that survive t-closeness suppression: size >= k, then
    (strict mode) rounded EMD to the post-k-anonymity distribution <= t.
    Shared by :func:`t_closeness_filter` and
    ``pipelines.t_closeness_pipeline``, which check ``mode`` first."""
    big = table.k_classes(k)
    if mode == "reference":
        return big  # SURVEY §3.4: as-written = k-filter only
    rounded = spark_round(table.df.sparkSession, table.emd(big))
    return [c for c, e in zip(big, rounded) if e <= t]


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
    ``t-closeness.py:186-208``); NULL violations and rate over no class.
    A local relation built from the collected class table."""
    table = ClassTable(df, qi, sensitive, _HINT)
    spark = df.sparkSession
    rounded = spark_round(spark, table.emd(list(table.size)))
    raw = local_relation(spark, T.StructType(VIOLATION_FIELDS), [violation_fields(rounded, t)])
    return raw.select(*violation_cols())


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
    return df.join(ok, on=list(qi), how="left_semi").select(*df.columns)


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
    window over the slim counts relation, verdict keys joined back with a
    plain semi join (worst case rows/k keys: Spark's threshold and AQE
    pick the strategy).
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
    return df.join(ok, on=list(qi), how="left_semi").select(*df.columns)


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
