"""Privacy/utility metrics — SURVEY §2b C5–C8.

Every metric returns a single-row DataFrame (never a driver-side scalar) so
the DuckDB oracle can hash-check it and so composition stays lazy.
Float outputs are rounded to 9 dp to absorb engine-level summation-order
ulp differences while staying far inside metric precision.
"""

from __future__ import annotations

import os
import time
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dbms_data_anonymity_differential_privacy_spark.operators.kanonymity import (
    CLASS_SIZE_COL,
    class_sizes,
    with_class_size,
)

ROUND_DP = 9


def reid_risk(df: DataFrame, qi: Sequence[str]) -> DataFrame:
    """C5 — mean over rows of 1/|equivalence class| (reference
    ``naive-suppresion.py:64-69``).

    Algebraic shortcut: the row-mean of 1/size telescopes —
    sum over classes of size * (1/size) = n_classes — so
    reid_risk = n_classes / n_rows. One skew-safe aggregate over the
    class relation; no per-row window, no 1/x column.
    """
    cs = class_sizes(df, qi)
    return cs.agg(
        F.round(F.count(F.lit(1)) / F.sum(CLASS_SIZE_COL), ROUND_DP).alias("reid_risk")
    )


def uniqueness_rate(
    df: DataFrame, qi: Sequence[str], denominator: str = "rows"
) -> DataFrame:
    """C6 — share of singleton equivalence classes.

    The reference uses three different denominators (SURVEY §2b C6):
    ``rows``    — unique rows / total rows (``naive-suppresion.py:60-62``)
    ``classes`` — singleton classes / total classes (``t-closeness.py:211-214``)
    """
    cs = class_sizes(df, qi)
    if denominator == "rows":
        out = cs.agg(
            F.round(
                F.sum(F.when(F.col("class_size") == 1, 1).otherwise(0))
                / F.sum("class_size"),
                ROUND_DP,
            ).alias("uniqueness_rate")
        )
    elif denominator == "classes":
        out = cs.agg(
            F.round(
                F.sum(F.when(F.col("class_size") == 1, 1).otherwise(0)) / F.count(F.lit(1)),
                ROUND_DP,
            ).alias("uniqueness_rate")
        )
    else:
        raise ValueError(f"unknown denominator: {denominator}")
    return out


def suppression_rate(orig: DataFrame, anon: DataFrame) -> DataFrame:
    """C7 — ``(|orig| - |anon|) / |orig|`` (reference
    ``naive-suppresion.py:47-49``). Two count aggregates, cross-joined
    (each side is a single row → broadcast, no shuffle)."""
    o = orig.agg(F.count(F.lit(1)).alias("__n_orig"))
    a = anon.agg(F.count(F.lit(1)).alias("__n_anon"))
    return (
        o.crossJoin(F.broadcast(a))
        .select(
            F.col("__n_orig").alias("n_orig"),
            F.col("__n_anon").alias("n_anon"),
            F.round((F.col("__n_orig") - F.col("__n_anon")) / F.col("__n_orig"), ROUND_DP).alias(
                "suppression_rate"
            ),
        )
    )


def ncp(
    orig: DataFrame, anon: DataFrame, qi: Sequence[str], exact: bool = True, rsd: float = 0.01
) -> DataFrame:
    """C8 — Normalized Certainty Penalty: mean over QI columns of
    ``(nunique_orig - nunique_anon) / nunique_orig`` (reference
    ``naive-suppresion.py:74-83``).

    One pass per side: a single agg computing every ``countDistinct`` at
    once (Spark expands to one expand+agg, not |qi| scans).

    ``exact=True`` (default, oracle-checkable) uses exact distinct — note
    the expand multiplies shuffled rows by |qi|. ``exact=False`` is the
    100 TB path: HyperLogLog++ ``approx_count_distinct`` at relative
    standard deviation ``rsd`` — sketches merge map-side, the shuffle
    carries |qi| fixed-size sketches per partition instead of the expanded
    distinct tuples, and NCP (a ratio of same-column cardinalities) keeps
    the per-column bias mostly cancelled.
    """
    if exact:
        cd = lambda c: F.countDistinct(c)  # noqa: E731
    else:
        cd = lambda c: F.approx_count_distinct(c, rsd)  # noqa: E731
    o = orig.agg(*[cd(c).alias(f"__o_{i}") for i, c in enumerate(qi)])
    a = anon.agg(*[cd(c).alias(f"__a_{i}") for i, c in enumerate(qi)])
    joined = o.crossJoin(F.broadcast(a))
    return joined.select(
        _ncp_expr(
            [F.col(f"__o_{i}") for i in range(len(qi))],
            [F.col(f"__a_{i}") for i in range(len(qi))],
        ).alias("ncp")
    )


def _ncp_expr(orig_distinct: Sequence[Column], anon_distinct: Sequence[Column]) -> Column:
    """The NCP formula over per-QI-column distinct counts (original side,
    anonymized side), in :func:`ncp`'s exact arithmetic order. The
    pipelines pass ``countDistinct`` aggregates directly, so NCP folds into
    their one metrics aggregation."""
    # try_divide: a column whose ORIGINAL distinct count is 0 (all-NULL —
    # countDistinct ignores NULLs) has no defined information loss; emit
    # NULL instead of an ANSI divide-by-zero. Real corpora never hit this
    # (divisor > 0 → identical to plain division, oracle unaffected).
    per_col = [F.try_divide(o - a, o) for o, a in zip(orig_distinct, anon_distinct)]
    total = per_col[0]
    for p in per_col[1:]:
        total = total + p
    return F.round(total / F.lit(len(per_col)), ROUND_DP)


def group_percentiles(
    df: DataFrame,
    by: Sequence[str],
    value_col: str,
    ps: Sequence[float] = (0.5, 0.95, 0.99),
    exact: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """Per-group percentiles of a numeric column.

    ``exact=True`` uses Spark's sort-based ``percentile`` — type-7 linear
    interpolation, empirically bit-identical to DuckDB ``quantile_cont``
    even at arbitrary double inputs (both engines evaluate
    ``a + (b - a) * frac`` in the same op order; verified exact-equal at
    sf0.01 and sf0.1, p50/p95/p99) — so the relation is oracle-hashable
    with NO rounding. ``exact=False`` is the 100 TB path: Greenwald-
    Khanna ``percentile_approx`` sketches merge map-side, one pass, no
    per-group sort buffer.

    Output: ``(*by, p<P> ...)`` with ``p50``-style column names.
    """

    def name(p: float) -> str:
        s = f"{p * 100:g}".replace(".", "_")
        return f"p{s}"

    if exact:
        aggs = [
            F.expr(f"percentile({value_col}, {p!r})").alias(name(p)) for p in ps
        ]
    else:
        aggs = [
            F.percentile_approx(F.col(value_col), F.lit(p), F.lit(accuracy))
            .cast("double")
            .alias(name(p))
            for p in ps
        ]
    return df.groupBy(*by).agg(*aggs)


def resource_report(spark: SparkSession) -> DataFrame:
    """C11 — runtime/resource snapshot as a single-row DataFrame (reference
    prints wall-clock + RSS, ``naive-suppresion.py:131-138``). Values are
    driver-process facts, not data facts → rows-only, never oracle-checked.
    """
    try:
        import resource

        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    except ImportError:  # non-POSIX
        rss_mb = float("nan")
    sc = spark.sparkContext
    uptime_sec = time.time() - sc.startTime / 1000.0
    try:
        # block-manager count (driver + executors); goes through the
        # gateway because PySpark's StatusTracker has no executor listing
        executors = sc._jsc.sc().getExecutorMemoryStatus().size()
    except Exception:
        executors = -1
    return spark.createDataFrame(
        [
            (
                round(uptime_sec, 3),
                round(rss_mb, 1),
                sc.defaultParallelism,
                executors,
                os.cpu_count() or -1,
            )
        ],
        "app_uptime_sec double, driver_peak_rss_mb double, default_parallelism int, "
        "executors int, host_cpus int",
    )


def k_map_audit(
    sample: DataFrame,
    population: DataFrame,
    qi: Sequence[str],
    k: int,
) -> DataFrame:
    """X35 — k-map: re-identification risk of a released SAMPLE measured
    against the POPULATION it was drawn from.

    k-anonymity over-counts risk for samples: a record unique in the
    sample may be common in the population an attacker actually searches.
    k-map (El Emam & Dankar, JAMIA 2008; Sweeney's k-map model) instead
    requires every released record's QI class to have >= k members in the
    POPULATION table. Output: one row per QI class present in the sample —
    ``(*qi, sample_count, population_count, at_risk)`` with ``at_risk =
    population_count < k`` — so callers can both count violations and
    semi-join the risky classes out of the release.

    Physical shape: both sides collapse to class-frequency relations
    BEFORE the join (map-side partial counts; the fact tables are never
    joined row-to-row); the population class relation — bounded by the QI
    domain product, kilobytes for the coarse QIs a k-map audit uses —
    broadcasts as the build side of the left join. At 100 TB both scans
    are one partial-aggregated pass each and the join moves kilobytes.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    pop = population.groupBy(*qi).agg(F.count(F.lit(1)).alias("population_count"))
    smp = sample.groupBy(*qi).agg(F.count(F.lit(1)).alias("sample_count"))
    # LEFT join from the released side: a sample class ABSENT from the
    # population (possible when auditing a generalized release against an
    # external population table) is maximally risky, not silently dropped —
    # it reports population_count = 0 and at_risk = true.
    return (
        smp.join(F.broadcast(pop), on=list(qi), how="left")
        .select(
            *qi,
            "sample_count",
            F.coalesce(F.col("population_count"), F.lit(0)).alias("population_count"),
            (F.coalesce(F.col("population_count"), F.lit(0)) < F.lit(k)).alias("at_risk"),
        )
    )


def mad_outlier_stats(
    df: DataFrame,
    by: Sequence[str],
    value_col: str,
    cutoff: float = 4.4478,  # 3 * 1.4826 (the normal-consistency constant)
    exact: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """X53 — robust per-group outlier screen via median absolute deviation.

    Data-quality primitive for ingest pipelines: mean/stddev outlier
    rules are themselves dragged by the outliers they hunt; the MAD rule
    (Hampel) flags ``|x - median| > cutoff * MAD`` with a 50% breakdown
    point. ``cutoff`` is applied as ONE literal multiply (default
    3 x 1.4826, i.e. "3 sigma" under normality) so the comparison is a
    single bit-identical double op on any engine.

    Output: ``(*by, n, n_outliers, med, mad)`` — exact type-7 medians
    (unrounded; the x22 bit-match precedent) and exact integer counts.

    Physical shape: three grouped aggregations of the fact table (median
    → median-of-deviations → threshold count; the deviation screen is
    inherently multi-pass since the cutoff depends on the deviation
    distribution) with the tiny per-group stats relations broadcast back
    between passes — no window over fact rows, no sort outside the
    percentile aggregates. ``exact=False`` swaps both
    medians for Greenwald-Khanna sketches (map-side mergeable, one pass
    each) — the 100 TB path, at the cost of oracle bit-parity.
    """

    def med_of(col_expr: str) -> F.Column:
        if exact:
            return F.expr(f"percentile({col_expr}, 0.5)")
        return F.percentile_approx(F.expr(col_expr), F.lit(0.5), F.lit(accuracy)).cast(
            "double"
        )

    g1 = df.groupBy(*by).agg(med_of(value_col).alias("med"))
    joined = df.join(F.broadcast(g1), on=list(by), how="inner").withColumn(
        "__dev", F.abs(F.col(value_col) - F.col("med"))
    )
    g2 = joined.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n"),
        F.max("med").alias("med"),
        med_of("__dev").alias("mad"),
    )
    flagged = joined.join(
        F.broadcast(g2.select(*by, "mad")), on=list(by), how="inner"
    ).withColumn(
        "__is_out", (F.col("__dev") > F.col("mad") * F.lit(float(cutoff))).cast("int")
    )
    outs = flagged.groupBy(*by).agg(F.sum("__is_out").alias("n_outliers"))
    return g2.join(outs, on=list(by), how="inner").select(
        *by, "n", "n_outliers", "med", "mad"
    )


def winsorize(
    df: DataFrame,
    by: Sequence[str],
    value_col: str,
    lower: float = 0.01,
    upper: float = 0.99,
    exact: bool = True,
    accuracy: int = 10_000,
    out_col: str | None = None,
) -> DataFrame:
    """X91 — per-group winsorization: clip ``value_col`` to the group's
    [lower, upper] exact percentiles — the standard heavy-tail tamer for
    metric columns before aggregation/training (clipping, unlike
    trimming, keeps row counts intact).

    Shape: one per-group percentile aggregation (the x22 relation — slim,
    groups-sized), broadcast back, then a map-only GREATEST/LEAST clip —
    the fact table never shuffles. ``exact=False`` swaps in the GK-sketch
    percentiles for the 100 TB path (same plan shape, approximate cut
    points). Percentile interpolation is type-7 on both engines (the x22
    bit-exactness), so the clipped column is oracle-hashable unrounded.

    Output: input columns + ``<value_col>_w`` (or ``out_col``).
    """
    if not 0.0 <= lower < upper <= 1.0:
        raise ValueError(f"need 0 <= lower < upper <= 1, got {lower}, {upper}")
    out_col = out_col or f"{value_col}_w"
    cuts = group_percentiles(
        df, by, value_col, ps=(lower, upper), exact=exact, accuracy=accuracy
    )
    lo_c, hi_c = cuts.columns[len(by):]
    clipped = df.join(F.broadcast(cuts), on=list(by)).withColumn(
        out_col,
        F.least(F.greatest(F.col(value_col), F.col(lo_c)), F.col(hi_c)),
    )
    return clipped.drop(lo_c, hi_c)


def delta_presence_audit(
    population: DataFrame,
    released: DataFrame,
    qi: Sequence[str],
    delta_min: float = 0.0,
    delta_max: float = 1.0,
) -> DataFrame:
    """X97 — (δmin, δmax)-presence audit (Nergiz, Atzori & Clifton,
    SIGMOD 2007): the MEMBERSHIP-disclosure companion to k-map (x35).
    Where k-map asks "can a released record be re-identified?",
    δ-presence asks "can an attacker who knows someone's QI infer whether
    they are IN the released table at all?" — for each population QI
    class, ``δ(c) = |released ∩ c| / |population ∩ c|`` is exactly that
    inference probability; the release is safe iff every class keeps
    ``δmin ≤ δ(c) ≤ δmax`` (δ near 1 discloses presence, δ near 0 —
    when the release's existence implies eligibility — discloses
    absence).

    Same physical shape as k-map: both sides collapse to class-frequency
    relations before a broadcast left join from the POPULATION side (the
    attacker's view — a population class with no released member has
    δ = 0, reported, not dropped). One exact division, rounded 9 dp.

    Output: ``(*qi, n_pop, n_released, delta_r, violates)``.
    """
    if not 0.0 <= delta_min <= delta_max <= 1.0:
        raise ValueError("need 0 <= delta_min <= delta_max <= 1")
    pop = population.groupBy(*qi).agg(F.count(F.lit(1)).alias("n_pop"))
    rel = released.groupBy(*qi).agg(F.count(F.lit(1)).alias("n_released"))
    d = F.col("n_released").cast("double") / F.col("n_pop").cast("double")
    return (
        pop.join(F.broadcast(rel), on=list(qi), how="left")
        .select(
            *qi,
            "n_pop",
            F.coalesce(F.col("n_released"), F.lit(0)).cast("long").alias("n_released"),
        )
        .select(
            *qi,
            "n_pop",
            "n_released",
            F.round(d, 9).alias("delta_r"),
            ((d < F.lit(delta_min)) | (d > F.lit(delta_max))).alias("violates"),
        )
    )


def qi_uniqueness_search(df: DataFrame, qi_cols: Sequence[str]) -> DataFrame:
    """X100 — re-identification risk screen over EVERY quasi-identifier
    subset at once (SUDA-style minimal-unique discovery, Elliot et al.;
    the lattice the Samarati search in X38 walks level by level).

    Before releasing a table, the disclosure question is not "is THIS QI
    set risky" but "which combination of attributes is": each of the
    ``2^m - 1`` non-empty subsets of ``qi_cols`` gets its class-size
    census — class count, singleton (sample-unique) count, min/max class
    size, uniqueness rate.

    Spark-first shape: ONE ``cube()`` aggregation computes all subsets in
    a single pass — one Expand (×2^m fan-out, the x33 rollup lever) + one
    partial-agg shuffle of (qi values, subset flags); fact rows are never
    rescanned per subset. The subset census is a second, kilobyte-sized
    aggregation over the class relation. ``m`` is bounded by the QI list
    (an analyst-chosen handful) — the 2^m fan-out is a deliberate,
    disclosed cost, linear in it.

    Grouping flags disambiguate aggregated-out columns from genuine NULL
    data values; the released ``qi_subset`` label is built from them with
    NULL-skipping ``concat_ws`` (identical semantics on the DuckDB twin).

    Output: ``(qi_subset, n_cols, n_classes, n_singletons,
    min_class_size, max_class_size, uniqueness_r)``.
    """
    qi = list(qi_cols)
    if not qi:
        raise ValueError("qi_cols must be non-empty")
    m = len(qi)
    label = F.concat_ws(
        ",", *[F.when(F.grouping(c) == 0, F.lit(c)) for c in qi]
    )
    n_grouped = sum(F.grouping(c).cast("int") for c in qi)
    classes = (
        df.cube(*qi)
        .agg(
            label.alias("qi_subset"),
            n_grouped.alias("__ng"),
            F.count(F.lit(1)).alias("__n"),
        )
        .where(F.col("__ng") < m)
    )
    return classes.groupBy("qi_subset").agg(
        (F.lit(m) - F.first("__ng")).cast("int").alias("n_cols"),
        F.count(F.lit(1)).alias("n_classes"),
        F.sum(F.when(F.col("__n") == 1, 1).otherwise(0)).alias("n_singletons"),
        F.min("__n").alias("min_class_size"),
        F.max("__n").alias("max_class_size"),
        F.round(
            F.sum(F.when(F.col("__n") == 1, 1).otherwise(0)) / F.sum("__n"), 6
        ).alias("uniqueness_r"),
    )


def weighted_median(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    weight_col: str,
) -> DataFrame:
    """X115 — exact per-group weighted (lower) median: the smallest value
    whose cumulative weight reaches half the group's total — "the price
    at which half the QUANTITY traded", the volume-weighted analogue of
    x22's row-median.

    Integer-exact when weights are integral (the common count/quantity
    case): the reach-half test compares ``2·cumw >= W`` in int64 — no
    division, no float threshold, bit-identical across engines. The
    fact table collapses ONCE to the (group, value, weight-sum)
    relation; the cumsum + argmin run as windows over that compact
    relation (values per group, not rows).

    Output: ``(*group_cols, w_total, weighted_median)``.
    """
    from pyspark.sql import Window

    agg = df.groupBy(*group_cols, F.col(value_col).alias("__v")).agg(
        F.sum(F.col(weight_col).cast("long")).alias("__w")
    )
    part = [F.col(c) for c in group_cols]
    w_cum = Window.partitionBy(*part).orderBy("__v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy(*part)
    cum = agg.select(
        *group_cols,
        "__v",
        F.sum("__w").over(w_cum).alias("__cw"),
        F.sum("__w").over(w_all).alias("w_total"),
    )
    reached = cum.where(2 * F.col("__cw") >= F.col("w_total"))
    return reached.groupBy(*group_cols).agg(
        F.max("w_total").alias("w_total"),
        F.min("__v").alias("weighted_median"),
    )
