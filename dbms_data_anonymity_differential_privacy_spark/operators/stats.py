"""Statistical analytics — grouped OLS trend fits and categorical
association measures, as exact aggregations.

The reference's only statistics are counts and means (SURVEY §2a); an
analytics engine needs at least trend estimation ("is this metric
drifting?") and association strength ("which columns predict which?") —
and at 100 TB both must be single-pass aggregations, not iterative
solvers. Both operators here reduce to sums the partial-aggregation
machinery handles natively, then do constant-size math on the group row.

Float policy: every released float is the result of a short, fixed
expression over exact integer/double sums, rounded to 9 dp on both
engines (the repo-wide convention; the sums themselves are
summation-order-stable to well under 1e-9 at these magnitudes).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ROUND_DP = 9

# Benford first-digit probabilities as fixed driver-side literals: the
# operator and its generated SQL twin must embed bit-identical values
# (engine log10 implementations can differ in the last ulp).
import math as _math

BENFORD_P = {d: round(_math.log10(1 + 1 / d), 12) for d in range(1, 10)}


def group_ols(
    df: DataFrame,
    by: Sequence[str],
    x_col,
    y_col: str,
) -> DataFrame:
    """X63 — per-group simple linear regression by closed-form OLS.

    slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), intercept = ȳ − slope·x̄,
    r² = slope² · Sxx / Syy — one grouped aggregation computes the five
    sufficient statistics (n, Σx, Σy, Σxy, Σx²  [+ Σy² for r²]); the fit
    itself is constant work per group. This is THE scale shape for trend
    fitting: no gradient steps, no per-group solver, map-side partial
    combine all the way.

    ``x_col`` may be a column name or a Column expression (e.g. an
    hour-of-day derivation). Groups with zero x-variance release NULL
    slope/intercept/r2 (vertical fit); groups with zero y-variance
    release r2 NULL (undefined) with slope 0.

    Output: ``(*by, n, slope_r, intercept_r, r2_r)``.
    """
    x = F.col(x_col).cast("double") if isinstance(x_col, str) else x_col.cast("double")
    y = F.col(y_col).cast("double")
    agg = df.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum(x * y).alias("__sxy"),
        F.sum(x * x).alias("__sxx"),
        F.sum(y * y).alias("__syy"),
    )
    n = F.col("n").cast("double")
    sxx = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    syy = n * F.col("__syy") - F.col("__sy") * F.col("__sy")
    sxy = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    slope = F.when(sxx != 0, sxy / sxx)
    intercept = F.when(sxx != 0, (F.col("__sy") - slope * F.col("__sx")) / n)
    r2 = F.when((sxx != 0) & (syy != 0), (sxy * sxy) / (sxx * syy))
    return agg.select(
        *by,
        "n",
        F.round(slope, ROUND_DP).alias("slope_r"),
        F.round(intercept, ROUND_DP).alias("intercept_r"),
        F.round(r2, ROUND_DP).alias("r2_r"),
    )


def mutual_information(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """X64 — mutual information (nats) between two categorical columns,
    with the marginal entropies — the feature-selection / association
    screen (MI = 0 iff independent; MI = min(H) iff one determines the
    other).

    I(A;B) = Σ p(a,b) · ln( p(a,b) / (p(a)·p(b)) ) over the observed
    joint support. One fact aggregation to the (a, b, count) relation;
    marginals and the MI sum derive from that slim relation (window sums
    + one rollup — the counts-relation algebra of the t-closeness
    family). NULLs are treated as a category (disclosed; they carry
    association signal).

    p(a,b)/(p(a)p(b)) telescopes to ``c_ab · N / (c_a · c_b)`` — exact
    int64 products, ONE division and one ln per support cell, so the
    only float noise is the final sum, absorbed by the 9 dp rounding.

    Output (single row): ``(n, n_cells, h_a_r, h_b_r, mi_r)``.
    """
    from pyspark.sql import Window

    joint = (
        # listwise NULL deletion — the x71/x204 convention (fuzz, r10)
        df.filter(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
        .groupBy(F.col(a_col).alias("__a"), F.col(b_col).alias("__b"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    wa = Window.partitionBy("__a")
    wb = Window.partitionBy("__b")
    wall = Window.partitionBy()
    cells = (
        joint.withColumn("__ca", F.sum("__c").over(wa))
        .withColumn("__cb", F.sum("__c").over(wb))
        .withColumn("__n", F.sum("__c").over(wall))
        # one marked cell per marginal value, so the entropy sums below
        # count each marginal term exactly once (windows are illegal
        # inside the final agg, hence the precomputed marks)
        .withColumn("__ma", F.row_number().over(wa.orderBy("__b")) == 1)
        .withColumn("__mb", F.row_number().over(wb.orderBy("__a")) == 1)
    )
    n = F.col("__n").cast("double")
    p_ab = F.col("__c") / n
    # ln(c_ab * N / (c_a * c_b)) — integer products inside one log
    ratio = (F.col("__c") * F.col("__n")).cast("double") / (
        F.col("__ca") * F.col("__cb")
    ).cast("double")
    pa = F.col("__ca") / n
    pb = F.col("__cb") / n
    return cells.agg(
        F.max("__n").cast("long").alias("n"),
        F.count(F.lit(1)).alias("n_cells"),
        F.round(-F.sum(F.when(F.col("__ma"), pa * F.log(pa)).otherwise(0.0)), ROUND_DP).alias(
            "h_a_r"
        ),
        F.round(-F.sum(F.when(F.col("__mb"), pb * F.log(pb)).otherwise(0.0)), ROUND_DP).alias(
            "h_b_r"
        ),
        F.round(F.sum(p_ab * F.log(ratio)), ROUND_DP).alias("mi_r"),
    )


def top_k_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    key_cols: Sequence[str],
    k: int = 3,
    order_tiebreak: Sequence[str] | None = None,
) -> DataFrame:
    """X66 — "trending": the k most frequent key values within each group
    (top event types per hour, top domains per language, ...).

    rank <= k over a rank window compiles to a map-side WindowGroupLimit
    (Partial): each task keeps at most k candidate rows per group BEFORE
    the window exchange, so the shuffle after the count aggregation
    carries ~groups*k rows however skewed the keys are — the same idiom
    the pair-capped similarity search is plan-gated on. Ties in count
    break by the key columns (deterministic, oracle-replayable).

    Output: ``(*group_cols, *key_cols, cnt, rank)``.
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError("k must be >= 1")
    counts = df.groupBy(*group_cols, *key_cols).agg(F.count(F.lit(1)).alias("cnt"))
    tiebreak = [F.col(c).asc() for c in (order_tiebreak or key_cols)]
    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(
        F.col("cnt").desc(), *tiebreak
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.lit(int(k)))
    )


def psi_drift(
    old: DataFrame,
    new: DataFrame,
    col: str,
    n_bins: int = 10,
    lower: float | None = None,
    upper: float | None = None,
    eps: float = 1e-6,
) -> DataFrame:
    """X67 — population stability index between two dataset versions:
    ``PSI = Σ_bins (p_new − p_old) · ln(p_new / p_old)`` — the standard
    ML-monitoring drift score (rule of thumb: < 0.1 stable, > 0.25 act).

    Bins are fixed-width over CALLER-SUPPLIED bounds (both snapshots must
    be binned identically or the score is meaningless; deriving bounds
    from either snapshot would make the score depend on which side
    drifted). Empty bins are floored at ``eps`` probability — the
    standard PSI regularization, disclosed — so the log stays finite.

    Output (single row): ``(n_old, n_new, psi_r)`` plus the per-bin
    relation via :func:`psi_drift_bins` for drill-down. Physical shape:
    one aggregation per snapshot to n_bins rows; all math on the joined
    bin spine.
    """
    bins = psi_drift_bins(old, new, col, n_bins, lower, upper, eps)
    return bins.agg(
        F.max("n_old").cast("long").alias("n_old"),
        F.max("n_new").cast("long").alias("n_new"),
        F.round(F.sum("psi_term"), ROUND_DP).alias("psi_r"),
    )


def psi_drift_bins(
    old: DataFrame,
    new: DataFrame,
    col: str,
    n_bins: int = 10,
    lower: float | None = None,
    upper: float | None = None,
    eps: float = 1e-6,
) -> DataFrame:
    """Per-bin PSI relation: ``(bin, c_old, c_new, n_old, n_new,
    psi_term)``; see :func:`psi_drift`."""
    if lower is None or upper is None:
        raise ValueError("psi_drift needs caller-supplied public bounds lower/upper")
    if lower >= upper:
        raise ValueError("need lower < upper")
    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")

    def binned(df: DataFrame, out: str) -> DataFrame:
        clipped = F.least(F.greatest(F.col(col), F.lit(lower)), F.lit(upper))
        b = F.least(
            F.floor((clipped - F.lit(lower)) * n_bins / F.lit(upper - lower)),
            F.lit(n_bins - 1),
        ).cast("int")
        return df.select(b.alias("bin")).groupBy("bin").agg(
            F.count(F.lit(1)).alias(out)
        )

    spark = old.sparkSession
    spine = spark.range(n_bins).select(F.col("id").cast("int").alias("bin"))
    joined = (
        spine.join(F.broadcast(binned(old, "c_old")), "bin", "left")
        .join(F.broadcast(binned(new, "c_new")), "bin", "left")
        .select(
            "bin",
            F.coalesce("c_old", F.lit(0)).alias("c_old"),
            F.coalesce("c_new", F.lit(0)).alias("c_new"),
        )
    )
    from pyspark.sql import Window

    wall = Window.partitionBy()
    t = joined.withColumn("n_old", F.sum("c_old").over(wall)).withColumn(
        "n_new", F.sum("c_new").over(wall)
    )
    # try_divide: an empty side floors to eps on BOTH engines (greatest
    # ignores NULL in Spark and DuckDB alike) instead of ANSI-raising
    p_old = F.greatest(F.try_divide(F.col("c_old"), F.col("n_old")), F.lit(float(eps)))
    p_new = F.greatest(F.try_divide(F.col("c_new"), F.col("n_new")), F.lit(float(eps)))
    return t.withColumn(
        "psi_term", F.round((p_new - p_old) * F.log(p_new / p_old), ROUND_DP)
    )


def correlation_matrix(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """X69 — exact Pearson correlations for EVERY column pair in ONE
    aggregation pass.

    The naive route calls ``df.stat.corr`` per pair — p·(p−1)/2 separate
    jobs, each rescanning the fact table. Here one grouped-less
    aggregation computes all sufficient statistics (p counts-free sums,
    p squares, p·(p−1)/2 cross-products — partial-combined map-side),
    and the matrix assembles from the single result row via a tiny
    unpivot. For p columns the scan cost is 1× regardless of p.

    r = (n·Σxy − Σx·Σy) / sqrt((n·Σx² − (Σx)²) · (n·Σy² − (Σy)²)),
    NULL when either variance is zero. Rows with a NULL in ANY of the
    requested columns are excluded up front (listwise deletion — the
    convention ``pandas.DataFrame.corr`` users expect for a consistent
    n across pairs; disclosed).

    Output: ``(col_a, col_b, n, corr_r)`` for a < b, 9 dp.
    """
    cols = list(cols)
    if len(cols) < 2:
        raise ValueError("need at least two columns")
    nn = df.na.drop(subset=cols)
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        x = F.col(c).cast("double")
        aggs.append(F.sum(x).alias(f"s_{c}"))
        aggs.append(F.sum(x * x).alias(f"q_{c}"))
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    for a, b in pairs:
        aggs.append(
            F.sum(F.col(a).cast("double") * F.col(b).cast("double")).alias(f"p_{a}_{b}")
        )
    wide = nn.agg(*aggs)

    n = F.col("n").cast("double")
    outs = []
    for a, b in pairs:
        sxx = n * F.col(f"q_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")
        syy = n * F.col(f"q_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}")
        sxy = n * F.col(f"p_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")
        r = F.when((sxx > 0) & (syy > 0), sxy / F.sqrt(sxx * syy))
        outs.append(
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.col("n"),
                F.round(r, ROUND_DP).alias("corr_r"),
            )
        )
    return wide.select(F.explode(F.array(*outs)).alias("e")).select(
        "e.col_a", "e.col_b", "e.n", "e.corr_r"
    )


def chi_squared(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """X71 — Pearson chi-squared independence statistic between two
    categorical columns: ``X² = Σ (observed − expected)² / expected``
    over the joint support, with degrees of freedom — the classical
    companion to :func:`mutual_information` (MI measures the effect
    size in nats; X² scales with n and feeds a significance test).

    The p-value needs the chi-squared CDF (an incomplete-gamma special
    function with no SQL/builtin equivalent), so the release is the
    statistic + dof — callers finish with ``scipy.stats.chi2.sf`` on the
    driver; releasing a driver-side p-value would break the relation's
    oracle-checkability for no engine benefit.

    expected = c_a · c_b / N telescopes to exact int64 products over one
    (a, b, count) aggregation — zero-count cells contribute exactly
    ``expected`` each, so the full-grid sum is computed WITHOUT
    materializing the grid: ``X² = N·(Σ_observed c²/(c_a·c_b)) − N``.
    (Algebra: Σ_all (o−e)²/e = Σ_all o²/e − N, and o = 0 off-support.)

    Output (single row): ``(n, dof, chi2_r)``.
    """
    from pyspark.sql import Window

    joint = (
        # listwise NULL deletion: a NULL category is missing data, not a
        # level — and SQL COUNT(DISTINCT)/equi-join semantics drop it,
        # so keeping it made the release engine-dependent (fuzz, r10)
        df.filter(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
        .groupBy(F.col(a_col).alias("__a"), F.col(b_col).alias("__b"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    wa, wb, wall = Window.partitionBy("__a"), Window.partitionBy("__b"), Window.partitionBy()
    cells = (
        joint.withColumn("__ca", F.sum("__c").over(wa))
        .withColumn("__cb", F.sum("__c").over(wb))
        .withColumn("__n", F.sum("__c").over(wall))
        .withColumn("__ma", F.row_number().over(wa.orderBy("__b")) == 1)
        .withColumn("__mb", F.row_number().over(wb.orderBy("__a")) == 1)
    )
    term = (F.col("__c") * F.col("__c")).cast("double") / (
        F.col("__ca") * F.col("__cb")
    ).cast("double")
    return cells.agg(
        F.max("__n").cast("long").alias("n"),
        (
            (F.sum(F.when(F.col("__ma"), 1).otherwise(0)) - F.lit(1))
            * (F.sum(F.when(F.col("__mb"), 1).otherwise(0)) - F.lit(1))
        ).cast("long").alias("dof"),
        F.round(
            F.max("__n").cast("double") * F.sum(term) - F.max("__n").cast("double"),
            ROUND_DP,
        ).alias("chi2_r"),
    )


def transition_matrix(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """X72 — first-order event-flow transition matrix: for every ordered
    pair of consecutive events within a user's timeline, the count and
    the row-normalized transition probability — the "user flow" view
    (what do users do right after a signup?) and the empirical Markov
    model over event types.

    One shuffle on the user key (lag window, ties broken by ``id_col``);
    the transition counts partial-combine; probabilities derive from a
    window over the |types|² relation. Output: ``(from_type, to_type,
    cnt, p_r)`` with p rounded 9 dp (one division of exact counts).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(F.col(ts_col).asc(), F.col(id_col).asc())
    pairs = events.select(
        F.lag(F.col(type_col)).over(w).alias("from_type"),
        F.col(type_col).alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("cnt"))
    w_from = Window.partitionBy("from_type")
    return counts.withColumn(
        "p_r",
        F.round(F.col("cnt").cast("double") / F.sum("cnt").over(w_from).cast("double"), ROUND_DP),
    )


def ab_test_proportions(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    conversion_type: str = "purchase",
    salt: str = "ab",
) -> DataFrame:
    """X74 — A/B conversion analysis over a deterministic 50/50 user
    split: per-variant conversion rates and the two-proportion z
    statistic (pooled), the experiment-analysis primitive.

    The variant assignment IS the engine's content-hash split
    (``sampling.hash_split`` semantics — layout-independent, replayable
    in SQL), so the whole analysis is deterministic and oracle-checkable
    end to end: assignment, rates, and statistic. The p-value needs the
    normal CDF (erf — no SQL equivalent); callers finish driver-side
    (|z| > 1.96 ≈ p < 0.05), same disclosure as :func:`chi_squared`.

    Physical shape: events collapse map-side to the per-user conversion
    relation (one user-key aggregation); assignment is a map-only hash
    predicate on that slim relation; one tiny rollup per variant.

    Output (single row): ``(n_a, n_b, conv_a, conv_b, rate_a_r,
    rate_b_r, z_r)``.
    """
    users = events.groupBy(user_col).agg(
        F.max(F.when(F.col(type_col) == conversion_type, 1).otherwise(0)).alias("__conv")
    )
    h = F.substring(
        F.md5(
            F.concat_ws("|", F.col(user_col).cast("string"), F.lit(salt)).cast("binary")
        ),
        1,
        8,
    )
    tagged = users.withColumn("__v", F.when(h < F.lit("80000000"), F.lit("a")).otherwise(F.lit("b")))
    agg = tagged.groupBy().agg(
        F.sum(F.when(F.col("__v") == "a", 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("__v") == "b", 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(F.col("__v") == "a", F.col("__conv")).otherwise(0)).cast("long").alias("conv_a"),
        F.sum(F.when(F.col("__v") == "b", F.col("__conv")).otherwise(0)).cast("long").alias("conv_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    # try_divide: an empty arm yields NULL rates/z instead of raising
    # under ANSI — matching SQL division semantics (fuzz-oracle, r10)
    pa = F.try_divide(F.col("conv_a").cast("double"), na)
    pb = F.try_divide(F.col("conv_b").cast("double"), nb)
    pool = F.try_divide((F.col("conv_a") + F.col("conv_b")).cast("double"), na + nb)
    se = F.sqrt(
        pool
        * (F.lit(1.0) - pool)
        * (F.try_divide(F.lit(1.0), na) + F.try_divide(F.lit(1.0), nb))
    )
    z = F.when(se > 0, (pa - pb) / se)
    return agg.select(
        "n_a", "n_b", "conv_a", "conv_b",
        F.round(pa, ROUND_DP).alias("rate_a_r"),
        F.round(pb, ROUND_DP).alias("rate_b_r"),
        F.round(z, ROUND_DP).alias("z_r"),
    )


def benford_audit(df: DataFrame, value_col: str) -> DataFrame:
    """X75 — Benford first-digit audit: observed leading-digit
    distribution of a positive numeric column against Benford's law
    ``p(d) = log10(1 + 1/d)``, with per-digit deviation and the
    chi-squared fit statistic attached to every row — the classic
    fabricated-numbers screen for financial / metric columns.

    Leading digit = the first nonzero digit of the value's string
    rendering (``regexp_extract('[1-9]')``) — robust to plain decimal
    AND scientific notation on any engine, and free of the
    floor(log10) extraction whose ulp behavior at exact powers of ten
    differs across engines. Non-positive and NULL values are excluded
    (Benford is defined on positive spans; count disclosed via n). One
    aggregation to 9 rows. The Benford probabilities are driver-side
    log10 literals shared verbatim with the generated SQL twin (the
    bigram-LM log-table convention).

    Output: ``(digit, n_obs, p_obs_r, p_benford_r, dev_r, chi2_r)``.
    """
    from pyspark.sql import Window

    d = F.regexp_extract(F.col(value_col).cast("string"), "[1-9]", 0)
    digits = (
        df.filter(F.col(value_col).isNotNull() & (F.col(value_col) > 0))
        .select(d.cast("int").alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    spine = df.sparkSession.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    full = spine.join(F.broadcast(digits), "digit", "left").select(
        "digit", F.coalesce("n_obs", F.lit(0)).alias("n_obs")
    )
    wall = Window.partitionBy()
    p_ben = F.lit(None).cast("double")
    for dd in range(9, 0, -1):
        p_ben = F.when(F.col("digit") == dd, F.lit(BENFORD_P[dd])).otherwise(p_ben)
    t = (
        full.withColumn("__n", F.sum("n_obs").over(wall))
        .withColumn("p_obs", F.col("n_obs") / F.col("__n"))
        .withColumn("__e", p_ben * F.col("__n"))
        .withColumn(
            "__chi_term",
            (F.col("n_obs") - F.col("__e")) * (F.col("n_obs") - F.col("__e")) / F.col("__e"),
        )
        .withColumn("chi2", F.sum("__chi_term").over(wall))
    )
    return t.select(
        "digit",
        "n_obs",
        F.round("p_obs", ROUND_DP).alias("p_obs_r"),
        F.round(p_ben, ROUND_DP).alias("p_benford_r"),
        F.round(F.col("p_obs") - p_ben, ROUND_DP).alias("dev_r"),
        F.round("chi2", ROUND_DP).alias("chi2_r"),
    )


def seasonality_index(
    events: DataFrame,
    group_cols: Sequence[str],
    ts_col: str = "ts",
    period: str = "hour_of_day",
) -> DataFrame:
    """X76 — seasonal activity index: per (group, period-slot) event
    share relative to a flat profile — index 2.0 at hour 14 means "2×
    the traffic a uniform day would put there". The decomposition every
    capacity planner and anomaly detector starts from.

    index = (n_slot / n_group) * n_slots, exact-count arithmetic with
    ONE division; zero-filled over the full public slot domain so quiet
    slots release index 0 rather than vanishing.

    Output: ``(*group_cols, slot, n, index_r)``.
    """
    domains = {"hour_of_day": 24, "day_of_week": 7}
    if period not in domains:
        raise ValueError(f"period must be one of {sorted(domains)}")
    n_slots = domains[period]
    slot = (
        F.hour(F.col(ts_col)) if period == "hour_of_day"
        else F.dayofweek(F.col(ts_col)) - 1
    )
    from pyspark.sql import Window

    counts = events.groupBy(*group_cols, slot.cast("int").alias("slot")).agg(
        F.count(F.lit(1)).alias("n")
    )
    groups = counts.select(*group_cols).distinct()
    spine = events.sparkSession.range(n_slots).select(F.col("id").cast("int").alias("slot"))
    grid = groups.crossJoin(F.broadcast(spine))
    dense = grid.join(counts, on=[*group_cols, "slot"], how="left").select(
        *group_cols, "slot", F.coalesce("n", F.lit(0)).alias("n")
    )
    w = Window.partitionBy(*[F.col(c) for c in group_cols])
    return dense.withColumn(
        "index_r",
        F.round(
            F.col("n").cast("double") * F.lit(float(n_slots))
            / F.sum("n").over(w).cast("double"),
            ROUND_DP,
        ),
    )


def kaplan_meier(
    durations: DataFrame,
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """X79 — Kaplan–Meier survival estimator over (duration, event)
    observations: ``S(t) = Π_{t_i <= t} (1 − d_i / n_i)`` with right
    censoring (event = 0) — the time-to-churn / time-to-conversion curve
    behind every retention model.

    Distributed form: ONE aggregation collapses observations to the
    per-distinct-time relation (d_i deaths, c_i censored); the at-risk
    count n_i and the survival product derive from window cumsums over
    that slim relation — the running product is ``exp(Σ ln(1 − d/n))``
    with an explicit zero-factor flag (once 1 − d/n hits 0 the curve is
    0 forever; a log of zero must never be evaluated). Tail behavior,
    ties, and censoring-at-death-time (censored subjects at t are still
    at risk for the death at t — the standard convention) all live in
    integer arithmetic; only the final product is float, rounded 9 dp.

    Output: one row per distinct duration with a death,
    ``(t, n_risk, d_events, survival_r)``, ordered by t.
    """
    from pyspark.sql import Window

    t = F.col(duration_col)
    ev = F.col(event_col).cast("int")
    per_t = durations.groupBy(t.alias("t")).agg(
        F.sum(ev).alias("d"),
        F.count(F.lit(1)).alias("obs"),
    )
    w_ord = Window.orderBy("t")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    w_prev = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    total = F.sum("obs").over(Window.partitionBy())
    staged = (
        per_t.withColumn("n_risk", total - F.coalesce(F.sum("obs").over(w_prev), F.lit(0)))
        .withColumn("__f", F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk").cast("double"))
        .withColumn("__dead", F.max(F.when(F.col("__f") == 0.0, 1).otherwise(0)).over(w_cum))
        .withColumn(
            "__logsum",
            F.sum(F.when(F.col("__f") > 0.0, F.log("__f")).otherwise(0.0)).over(w_cum),
        )
    )
    return (
        staged.filter(F.col("d") > 0)
        .select(
            "t",
            F.col("n_risk").cast("long").alias("n_risk"),
            F.col("d").cast("long").alias("d_events"),
            F.round(
                F.when(F.col("__dead") == 1, F.lit(0.0)).otherwise(F.exp("__logsum")), 9
            ).alias("survival_r"),
        )
        .orderBy("t")
    )


def time_to_event(
    events: DataFrame,
    event_type: str = "purchase",
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Build the (duration, event) relation :func:`kaplan_meier` consumes
    from a raw event stream: per user, seconds from first activity to the
    first ``event_type`` occurrence (event = 1), or to the last observed
    activity for users who never convert (right-censored, event = 0).
    One user-key aggregation, all integer seconds."""
    u = F.unix_timestamp(F.col(ts_col))
    per_user = events.groupBy(user_col).agg(
        F.min(u).alias("__start"),
        F.max(u).alias("__last"),
        F.min(F.when(F.col(type_col) == event_type, u)).alias("__conv"),
    )
    return per_user.select(
        F.col(user_col),
        F.coalesce(F.col("__conv") - F.col("__start"), F.col("__last") - F.col("__start"))
        .alias("duration"),
        F.when(F.col("__conv").isNotNull(), 1).otherwise(0).alias("event"),
    )


def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """X80 — Mann–Whitney U rank test between two groups of a continuous
    metric: the nonparametric companion to the A/B proportion test (x74)
    for revenue/latency-style outcomes where means mislead.

    U computed WITHOUT a global rank: collapse to the per-distinct-value
    count relation ``(value, n_a_v, n_b_v)`` (one aggregation), then
    ``U_a = Σ_v n_a_v · (#b-below + n_b_v / 2)`` via one ordered cumsum
    over that relation — wins plus half-credit for ties, exactly the
    rank-sum definition. The normal approximation uses the standard tie
    correction ``Σ(t³ − t)``. Everything up to the final sqrt/division
    is integer-exact.

    Scale note: the cumsum orders the DISTINCT-value relation — compact
    for discrete/monetary metrics; for near-continuous doubles at 100 TB
    pre-bucket the metric (rank tests remain valid on binned data with
    the tie correction, which this formula already applies).

    Output (single row): ``(n_a, n_b, u_a_r, z_r)``; z > 0 means group
    A's values stochastically dominate. P-value driver-side (x71/x74
    convention).
    """
    from pyspark.sql import Window

    from dbms_data_anonymity_differential_privacy_spark.operators.util import track_cached

    g = F.col(group_col)
    counts = (
        # NULL observations rank nowhere, and NULL ORDER BY position is
        # engine-dependent (Spark NULLS FIRST, DuckDB NULLS LAST) —
        # exclude (fuzz-oracle finding, r10)
        df.filter(g.isin([group_a, group_b]))
        .filter(F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).alias("__v"))
        .agg(
            F.sum(F.when(g == group_a, 1).otherwise(0)).alias("__na"),
            F.sum(F.when(g == group_b, 1).otherwise(0)).alias("__nb"),
        )
    )
    w_prev = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, -1)
    staged = counts.withColumn(
        "__b_below", F.coalesce(F.sum("__nb").over(w_prev), F.lit(0))
    ).withColumn("__t", F.col("__na") + F.col("__nb"))
    agg = staged.agg(
        F.sum("__na").cast("long").alias("n_a"),
        F.sum("__nb").cast("long").alias("n_b"),
        F.sum(
            F.col("__na").cast("double")
            * (F.col("__b_below").cast("double") + F.col("__nb").cast("double") / F.lit(2.0))
        ).alias("__u"),
        F.sum(F.col("__t") * F.col("__t") * F.col("__t") - F.col("__t")).cast("double").alias(
            "__ties"
        ),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    n = na + nb
    mu = na * nb / F.lit(2.0)
    sigma = F.sqrt(
        na * nb / F.lit(12.0)
        * ((n + F.lit(1.0)) - F.try_divide(F.col("__ties"), n * (n - F.lit(1.0))))
    )
    z = F.when(sigma > 0, (F.col("__u") - mu) / sigma)
    return agg.select(
        "n_a", "n_b",
        F.round("__u", 9).alias("u_a_r"),
        F.round(z, 9).alias("z_r"),
    )


def rolling_anomaly(
    events: DataFrame,
    group_cols: Sequence[str],
    ts_col: str = "ts",
    bucket: str = "1 hour",
    window: int = 24,
    z_threshold: float = 3.0,
) -> DataFrame:
    """X87 — rolling z-score anomaly detection on event rates: bucket the
    stream per (group, time bucket), then score each bucket's count
    against the trailing ``window`` buckets' mean/std — the standard
    rate-spike/drop monitor.

    Exactness by construction: the trailing mean and variance derive
    from INTEGER window sums (Σx, Σx², count — exact in BIGINT), so
    ``var = (W·Σx² − (Σx)²) / (W·(W−1))`` is one integer expression and
    one division — bit-reproducible across engines, with none of the
    merge-order drift a native ``stddev_samp`` accumulator has. Scores
    only appear once the trailing window is FULL (count == window), so
    the warm-up period never emits half-baked flags.

    Shape: one (group, bucket) count aggregation, then windows over the
    buckets-sized relation — fact rows shuffle zero times beyond the
    count agg. Buckets are dense per group's observed span? No — only
    observed buckets appear; zero-fill the buckets first when
    silence itself is the anomaly (a dropped-to-zero feed emits no rows
    to score).

    Output: ``(*group_cols, bucket_start, n, mean_r, z_r, is_anomaly)``
    for scoreable buckets, ordered within each group by time.
    """
    from pyspark.sql import Window

    b = F.window(F.col(ts_col), bucket).start.alias("bucket_start")
    counts = events.groupBy(*group_cols, b).agg(F.count(F.lit(1)).alias("n"))
    w = (
        Window.partitionBy(*[F.col(c) for c in group_cols])
        .orderBy("bucket_start")
        .rowsBetween(-window, -1)
    )
    wsum = F.sum("n").over(w)
    wsq = F.sum(F.col("n") * F.col("n")).over(w)
    wcnt = F.count("n").over(w)
    wlit = F.lit(window)
    mean = wsum.cast("double") / wlit.cast("double")
    var = (wlit * wsq - wsum * wsum).cast("double") / F.lit(float(window * (window - 1)))
    z = F.when(var > 0, (F.col("n").cast("double") - mean) / F.sqrt(var))
    staged = counts.select(
        *group_cols,
        "bucket_start",
        "n",
        wcnt.alias("__wcnt"),
        F.round(mean, ROUND_DP).alias("mean_r"),
        F.round(z, ROUND_DP).alias("z_r"),
    )
    return staged.filter(F.col("__wcnt") == window).select(
        *group_cols,
        "bucket_start",
        "n",
        "mean_r",
        "z_r",
        (F.abs(F.col("z_r")) >= F.lit(z_threshold)).alias("is_anomaly"),
    )


def cusum_changepoints(
    events: DataFrame,
    group_cols: Sequence[str],
    ts_col: str = "ts",
    bucket: str = "1 hour",
    drift: int = 0,
    threshold: float = 20.0,
) -> DataFrame:
    """X88 — one-sided CUSUM change detection on bucketed event counts
    (Page 1954): the classic sequential drift detector for "did this
    feed's level shift?".

    The textbook recursion ``S_t = max(0, S_{t−1} + (x_t − k))`` is not
    window-expressible, but has the exact closed form
    ``S_t = C_t − min_{i≤t} C_i`` with ``C_t = Σ_{i≤t}(x_i − k)`` — a
    window cumsum plus a running min, both order-deterministic, so the
    whole detector is two window passes over the buckets-sized count
    relation (the x79 exp-sum-log trick's integer cousin: with integer
    counts and integer ``drift`` the cumsums stay in BIGINT, exact).
    The symmetric downward statistic uses the same form on ``−x``.

    Output: ``(*group_cols, bucket_start, n, s_pos, s_neg, is_change)``
    — ``s_pos``/``s_neg`` are the upward/downward CUSUM statistics;
    ``is_change`` flags buckets where either exceeds ``threshold``.
    """
    from pyspark.sql import Window

    if drift != int(drift):
        raise ValueError("drift must be an integer (counts domain)")
    b = F.window(F.col(ts_col), bucket).start.alias("bucket_start")
    counts = events.groupBy(*group_cols, b).agg(F.count(F.lit(1)).alias("n"))
    w_cum = (
        Window.partitionBy(*[F.col(c) for c in group_cols])
        .orderBy("bucket_start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # both sides share the reference level k = drift: S+ accumulates
    # (x − k) excess, S− accumulates (k − x) deficit
    c_pos = F.sum(F.col("n") - F.lit(int(drift))).over(w_cum)
    c_neg = F.sum(F.lit(int(drift)) - F.col("n")).over(w_cum)
    staged = counts.select(
        *group_cols,
        "bucket_start",
        "n",
        c_pos.alias("__cp"),
        c_neg.alias("__cn"),
    )
    s_pos = F.col("__cp") - F.min(F.least(F.col("__cp"), F.lit(0).cast("long"))).over(w_cum)
    s_neg = F.col("__cn") - F.min(F.least(F.col("__cn"), F.lit(0).cast("long"))).over(w_cum)
    out = staged.select(
        *group_cols,
        "bucket_start",
        "n",
        s_pos.cast("long").alias("s_pos"),
        s_neg.cast("long").alias("s_neg"),
    )
    # alarm at the CROSSING, not the persistent post-alarm state (the
    # un-reset statistic stays high after a shift — flagging every
    # subsequent bucket would be noise, and a reset recursion would
    # break the closed form)
    w_ord = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy("bucket_start")
    prev_p = F.coalesce(F.lag("s_pos").over(w_ord), F.lit(0))
    prev_n = F.coalesce(F.lag("s_neg").over(w_ord), F.lit(0))
    th = F.lit(threshold)
    return out.withColumn(
        "is_change",
        ((F.col("s_pos") >= th) & (prev_p < th))
        | ((F.col("s_neg") >= th) & (prev_n < th)),
    )


def copurchase_lift(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    top_k: int = 50,
    max_basket_size: int | None = None,
) -> DataFrame:
    """X102 — market-basket association pairs: co-occurrence count,
    support, and lift for the ``top_k`` most frequent item pairs.

    The classic recommender/affinity primitive (Agrawal & Srikant's
    frequent-2-itemsets with lift scoring): for items a < b,
    ``lift = N · c_ab / (c_a · c_b)`` where N is the basket count — the
    factor by which co-purchase exceeds independence.

    Scale shape: fact rows collapse FIRST to the distinct
    (basket, item) relation (the x70 k^m-anonymity move), and the pair
    generator is a self-equi-join on the basket key — candidate volume
    is sum over baskets of size², bounded by the largest basket, never
    |items|². A pathological mega-basket (retail "NULL customer", a
    crawler's catch-all bucket) makes that quadratic: ``max_basket_size``
    drops baskets above the cap before pairing (standard market-basket
    hygiene; dropped baskets simply don't vote). Item totals re-aggregate
    the same slim relation and broadcast back onto the pair counts
    (dimension-sized). Lift telescopes to exact int64 products and ONE
    IEEE division (the x51 convention), released at 6 dp; top-k goes
    through TakeOrderedAndProject with a total (count desc, a, b) order.

    Output: ``(item_a, item_b, pair_count, lift_r)``.
    """
    items = df.select(
        F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
    ).distinct()
    if max_basket_size is not None:
        sizes = items.groupBy("__b").agg(F.count(F.lit(1)).alias("__sz"))
        items = (
            items.join(sizes, "__b")
            .where(F.col("__sz") <= max_basket_size)
            .drop("__sz")
        )
    from dbms_data_anonymity_differential_privacy_spark.operators.util import track_cached

    track_cached(items.persist())
    n_baskets = items.select("__b").distinct().agg(
        F.count(F.lit(1)).alias("__n")
    )
    item_counts = items.groupBy("__i").agg(F.count(F.lit(1)).alias("__ci"))
    a = items.select("__b", F.col("__i").alias("item_a"))
    b = items.select("__b", F.col("__i").alias("item_b"))
    pairs = (
        a.join(b, "__b")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("pair_count"))
    )
    scored = (
        pairs.join(
            F.broadcast(item_counts.select(F.col("__i").alias("item_a"), F.col("__ci").alias("__ca"))),
            "item_a",
        )
        .join(
            F.broadcast(item_counts.select(F.col("__i").alias("item_b"), F.col("__ci").alias("__cb"))),
            "item_b",
        )
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "item_a",
            "item_b",
            "pair_count",
            F.round(
                (F.col("pair_count") * F.col("__n"))
                / (F.col("__ca") * F.col("__cb")),
                6,
            ).alias("lift_r"),
        )
    )
    return scored.orderBy(
        F.desc("pair_count"), F.asc("item_a"), F.asc("item_b")
    ).limit(top_k)


def ewma_smooth(
    events: DataFrame,
    group_cols: Sequence[str],
    ts_col: str = "ts",
    bucket: str = "1 hour",
    alpha: float = 0.3,
    window: int = 24,
) -> DataFrame:
    """X104 — exponentially-weighted moving average of event rates: the
    standard smoothing/forecast baseline (the EWMA control chart, and
    the one-step-ahead forecast of simple exponential smoothing).

    The infinite EWMA recursion ``s_t = alpha*x_t + (1-alpha)*s_{t-1}``
    is not expressible as a SQL window (each value depends on the whole
    prefix, and a pow()-rescaled cumsum overflows to inf within ~700
    rows at alpha=0.3). This is the standard truncated formulation:
    weights ``alpha*(1-alpha)^age`` over the trailing ``window`` buckets,
    renormalized over the terms actually present (series head included) —
    the tail the truncation drops carries weight ``(1-alpha)^window``
    (~2e-4 at the defaults, disclosed).

    Cross-engine exactness: the weight vector and its cumulative sums
    are DRIVER-computed float literals (the x86 convention — both
    engines parse the same shortest-repr decimal to the identical
    double), and the weighted sum is a fixed LEFT fold over the
    window-collected value list (oldest first), so summation order is
    pinned on both engines; one final division, rounded to 6 dp.

    Shape: one (group, bucket) count aggregation; the collect + fold
    window runs over the buckets-sized relation (kilobytes per group),
    never fact rows. Only observed buckets appear — zero-fill the
    buckets first if silent buckets should decay the average.

    Output: ``(*group_cols, bucket_start, n, ewma_r)``.
    """
    from pyspark.sql import Window

    if not 0 < alpha < 1:
        raise ValueError("alpha must be in (0, 1)")
    if window < 1:
        raise ValueError("window must be >= 1")
    # weights[age] for age 0 (newest) .. window-1; cumw[k] = sum of the
    # k newest weights — both literal arrays shared with the SQL twin
    wts = [alpha * (1.0 - alpha) ** i for i in range(window)]
    cumw = []
    acc = 0.0
    for v in wts:
        acc += v
        cumw.append(acc)
    b = F.window(F.col(ts_col), bucket).start.alias("bucket_start")
    counts = events.groupBy(*group_cols, b).agg(F.count(F.lit(1)).alias("n"))
    w = (
        Window.partitionBy(*[F.col(c) for c in group_cols])
        .orderBy("bucket_start")
        .rowsBetween(-(window - 1), 0)
    )
    xs = F.collect_list(F.col("n").cast("double")).over(w)
    wts_arr = F.array(*[F.lit(v) for v in wts])
    cumw_arr = F.array(*[F.lit(v) for v in cumw])
    # left fold j = 1..len: term_j = xs[j] * wts[len - j] (age of the
    # j-th oldest element); element_at is 1-based
    num = F.aggregate(
        F.sequence(F.lit(1), F.size(xs)),
        F.lit(0.0),
        lambda a, j: a + F.element_at(xs, j) * F.element_at(
            wts_arr, F.size(xs) - j + 1
        ),
    )
    den = F.element_at(cumw_arr, F.size(xs))
    return counts.select(
        *group_cols,
        "bucket_start",
        "n",
        F.round(num / den, 6).alias("ewma_r"),
    )


def ks_statistic(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """X108 — exact two-sample Kolmogorov–Smirnov statistic: the
    distribution-drift test that needs no binning choice (PSI, x67) and
    no location assumption (Mann–Whitney, x80) — ``D = sup |F_a - F_b|``
    over the empirical CDFs.

    Exactness (the x51/x64/x80 integer-telescoping convention):
    ``|cum_a/n_a - cum_b/n_b|`` is evaluated as the INTEGER
    ``|cum_a·n_b - cum_b·n_a|`` — the max over values is exact int64
    arithmetic, and the released statistic performs ONE IEEE division by
    ``n_a·n_b``, bit-identical across engines.

    Shape: one aggregation collapses fact rows to the distinct-value
    relation ``(value, n_in_a, n_in_b)``; the CDF cumsums are windows
    over that compact relation (global-order window disclosed — pre-
    bucket near-continuous metrics at 100 TB, the x80 caveat).

    Output (single row): ``(n_a, n_b, d_num, ks_r)`` where ``d_num`` is
    the exact integer numerator and ``ks_r = d_num/(n_a·n_b)`` at 9 dp.
    """
    from pyspark.sql import Window

    counts = (
        # NULL observations carry no value to rank — and engines disagree
        # on NULL ORDER BY position (Spark NULLS FIRST, DuckDB NULLS
        # LAST), so keeping them would make the CDF walk engine-dependent
        # (fuzz-oracle finding, r10)
        df.where(F.col(group_col).isin([group_a, group_b]))
        .where(F.col(value_col).isNotNull())
        .groupBy(value_col)
        .agg(
            F.sum(F.when(F.col(group_col) == group_a, 1).otherwise(0)).alias("__ca"),
            F.sum(F.when(F.col(group_col) == group_b, 1).otherwise(0)).alias("__cb"),
        )
    )
    w = Window.orderBy(value_col).rowsBetween(Window.unboundedPreceding, 0)
    cum = counts.select(
        F.sum("__ca").over(w).alias("cum_a"),
        F.sum("__cb").over(w).alias("cum_b"),
    )
    w_all = Window.partitionBy()
    tot = cum.select(
        "cum_a",
        "cum_b",
        F.max("cum_a").over(w_all).alias("__na"),
        F.max("cum_b").over(w_all).alias("__nb"),
    )
    return tot.agg(
        F.max("__na").alias("n_a"),
        F.max("__nb").alias("n_b"),
        F.max(
            F.abs(F.col("cum_a") * F.col("__nb") - F.col("cum_b") * F.col("__na"))
        ).alias("d_num"),
    ).select(
        "n_a",
        "n_b",
        "d_num",
        # one-sided-empty sample: no distance is defined — NULL, matching
        # SQL division semantics (ANSI Spark would raise on the raw /)
        F.round(F.try_divide(F.col("d_num"), F.col("n_a") * F.col("n_b")), 9).alias(
            "ks_r"
        ),
    )


def spearman_corr(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """X109 — exact Spearman rank correlation with average-rank ties:
    the outlier-robust complement to the Pearson matrix (x69) —
    correlation of RANKS, invariant to any monotone transform.

    Exactness: tie-averaged ranks are half-integers, so DOUBLED ranks
    ``r2 = 2·cum_before + cnt + 1`` stay in int64; every sufficient
    statistic (Σr2x, Σr2x², Σr2x·r2y, …) is summed in DECIMAL —
    associative integer arithmetic, so partial-agg merge order can never
    change a bit (the x44 centroid argument; int64 would overflow past
    ~1.3M rows since Σr2² ~ 4n³). The closed form then runs a FIXED
    sequence of double ops on exactly-cast inputs — identical on both
    engines — and one final round to 9 dp. (Doubling ranks scales both
    covariance and variances by 4, so rho is unchanged.)

    Shape: two distinct-value rank relations (window cumsum over compact
    relations), broadcast back onto the slim (x, y) projection — fact
    rows are scanned once and never sorted globally; one aggregation
    produces all six sufficient statistics.

    Output (single row): ``(n, rho_r)``; NULL rho when either margin is
    constant (zero rank variance).
    """
    from pyspark.sql import Window

    DEC = "decimal(30,0)"

    def rank_table(col: str, alias: str) -> DataFrame:
        cnts = slim.groupBy(F.col(col).alias("__v")).agg(
            F.count(F.lit(1)).alias("__c")
        )
        w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, -1)
        return cnts.select(
            F.col("__v").alias(col),
            (
                2 * F.coalesce(F.sum("__c").over(w), F.lit(0)) + F.col("__c") + 1
            ).alias(alias),
        )

    # listwise NULL deletion BEFORE ranking: a NULL's group count would
    # shift every midrank on the engine whose ORDER BY puts NULLs first
    # (fuzz-oracle class, r10) — and ranks must be computed over exactly
    # the rows the correlation uses
    slim = df.select(x_col, y_col).na.drop(subset=[x_col, y_col])
    ranked = slim.join(F.broadcast(rank_table(x_col, "__rx")), x_col).join(
        F.broadcast(rank_table(y_col, "__ry")), y_col
    )
    sums = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("__rx").cast(DEC)).alias("sx"),
        F.sum(F.col("__ry").cast(DEC)).alias("sy"),
        F.sum((F.col("__rx") * F.col("__rx")).cast(DEC)).alias("sxx"),
        F.sum((F.col("__ry") * F.col("__ry")).cast(DEC)).alias("syy"),
        F.sum((F.col("__rx") * F.col("__ry")).cast(DEC)).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    mx = F.col("sx").cast("double") / nd
    my = F.col("sy").cast("double") / nd
    cov = F.col("sxy").cast("double") / nd - mx * my
    vx = F.col("sxx").cast("double") / nd - mx * mx
    vy = F.col("syy").cast("double") / nd - my * my
    rho = F.when(
        (vx > 0) & (vy > 0), F.round(cov / F.sqrt(vx * vy), 9)
    )
    return sums.select("n", rho.alias("rho_r"))


def anova_oneway(df: DataFrame, value_col: str, group_col: str) -> DataFrame:
    """X110 — one-way ANOVA F statistic: does the metric's MEAN differ
    across groups (variants, cohorts, device classes)? The k-group
    generalization of the two-sample t test, from sufficient statistics.

    ``F = (SSB/(k−1)) / (SSW/(n−k))`` with ``SSB = Σ_g n_g(x̄_g − x̄)²``
    and ``SSW = Σ_g Σ(x − x̄_g)²`` — everything derives from per-group
    ``(n, Σx, Σx²)``: ONE grouped aggregation over fact rows, then
    constant-size math on the groups-sized relation (the x63 closed-form
    convention; doubles summed per group, released at 9 dp). The p-value
    is left to the caller (no SQL incomplete-beta — the x71 policy).

    Output (single row): ``(n, k, ssb_r, ssw_r, f_r)``; F is NULL when
    k < 2 or SSW == 0.
    """
    g = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col(value_col).cast("double")).alias("__s"),
        F.sum(F.col(value_col).cast("double") * F.col(value_col)).alias("__ss"),
    )
    tot = g.agg(
        F.sum("__n").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum("__s").alias("__ts"),
        F.sum("__ss").alias("__tss"),
        # SSW = Σ_g (Σx² − (Σx)²/n_g): per-group terms summed once
        F.sum(F.col("__ss") - F.col("__s") * F.col("__s") / F.col("__n")).alias(
            "__ssw"
        ),
    )
    grand_mean = F.col("__ts") / F.col("n")
    # SSB = total SS − SSW, with total SS = Σx² − n·x̄²
    sst = F.col("__tss") - F.col("n") * grand_mean * grand_mean
    ssb = sst - F.col("__ssw")
    # gate on the ROUNDED SSW: on an all-constant metric the raw SSW is
    # catastrophic-cancellation noise (~±1e-10) whose sign/bits differ
    # by engine summation order, so `raw > 0` made F engine-dependent
    # garbage; at 6 dp both engines see 0 and release NULL (fuzz, r10)
    f_stat = F.when(
        (F.col("k") >= 2) & (F.round(F.col("__ssw"), 6) > 0),
        (ssb / (F.col("k") - 1)) / (F.col("__ssw") / (F.col("n") - F.col("k"))),
    )
    return tot.select(
        "n",
        "k",
        F.round(ssb, 6).alias("ssb_r"),
        F.round(F.col("__ssw"), 6).alias("ssw_r"),
        F.round(f_stat, 6).alias("f_r"),
    )


def gini_concentration(
    df: DataFrame, key_col: str, value_col: str, as_cents: bool = False
) -> DataFrame:
    """X111 — Gini coefficient of a value's concentration over keys
    (revenue over customers, traffic over domains, tokens over
    documents): the inequality summary every "top-N% of keys hold M% of
    mass" analysis starts from. 0 = perfectly even, →1 = concentrated.

    Formula (sorted-rank form over per-key totals ``x_(1)≤…≤x_(n)``):
    ``G = 2·Σ i·x_(i) / (n·Σx) − (n+1)/n``.

    Shape: fact rows collapse ONCE to per-key totals; the rank window
    runs over that keys-sized relation (global-order window disclosed —
    the x80 caveat — but the relation is keys, not fact rows, and at
    100 TB per-key totals are exactly what the key-count bounds).
    Ranking ties break by key for a deterministic, oracle-replayable
    weighted sum. ``as_cents=True`` (for 2-decimal money columns) scales
    values to INTEGER cents before any sum — per-key totals in int64,
    the rank-weighted sum in DECIMAL (int64 overflows past ~1M keys
    since Σi·x ~ n·Σx) — so every sum is associative exact arithmetic
    and partial-agg order can never shift a bit (the x33 money + x109
    decimal conventions; the double path drifted ~1e-5 on a 1e10-scale
    total at sf0.1, measured). The plain-double path remains for
    non-monetary values, where the 9 dp release round absorbs ulp only
    at small magnitudes.

    Output (single row): ``(n_keys, total_r, gini_r)``; NULL gini when
    total <= 0 or a single key.
    """
    from pyspark.sql import Window

    v = F.col(value_col)
    if as_cents:
        v = F.round(v * 100).cast("long")
    # keys whose values are all NULL have no total to rank, and NULL
    # ORDER BY position is engine-dependent — exclude (fuzz, r10)
    totals = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(key_col).alias("__k"))
        .agg(F.sum(v).alias("__x"))
    )
    w = Window.orderBy(F.col("__x").asc(), F.col("__k").asc())
    ranked = totals.select(
        F.col("__x"), F.row_number().over(w).cast("long").alias("__i")
    )
    wx_term = F.col("__i") * F.col("__x")
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("__x").alias("__t"),
        F.sum(wx_term.cast("decimal(30,0)") if as_cents else wx_term).alias("__wx"),
    )
    nd = F.col("n_keys").cast("double")
    td = F.col("__t").cast("double")
    gini = F.when(
        (F.col("n_keys") >= 2) & (F.col("__t") > 0),
        2.0 * F.col("__wx").cast("double") / (nd * td) - (nd + 1.0) / nd,
    )
    total = (td / 100.0) if as_cents else td
    return agg.select(
        "n_keys",
        F.round(total, 6).alias("total_r"),
        F.round(gini, 9).alias("gini_r"),
    )


def path_trigrams(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    k: int = 25,
) -> DataFrame:
    """X123 — top-k behavioral path trigrams: the most common
    three-step event sequences across users (the path-analysis
    extension of X72's pairwise transition matrix — pairs can't
    distinguish "view→click→purchase" from "view→click→bounce").

    One user-keyed ordered window pass produces both lags (the two lag
    frames share the single sort — the x62 argument); counts
    partial-combine on the (t1, t2, t3) keys, and top-k goes through
    TakeOrderedAndProject under the total (cnt desc, t1, t2, t3) order.
    Sequences never cross users; ties in ``ts`` break by ``id_col``.

    Output: ``(t1, t2, t3, cnt)``, the ``k`` most frequent trigrams.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    tri = events.select(
        F.lag(F.col(type_col), 2).over(w).alias("t1"),
        F.lag(F.col(type_col), 1).over(w).alias("t2"),
        F.col(type_col).alias("t3"),
    ).where(F.col("t1").isNotNull())
    counts = tri.groupBy("t1", "t2", "t3").agg(F.count(F.lit(1)).alias("cnt"))
    return counts.orderBy(
        F.desc("cnt"), F.asc("t1"), F.asc("t2"), F.asc("t3")
    ).limit(k)


def nelson_aalen(
    durations: DataFrame,
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """Nelson–Aalen cumulative-hazard estimator over (duration, event)
    observations: ``H(t) = Σ_{t_i <= t} d_i / n_i`` with right censoring
    — the additive sibling of :func:`kaplan_meier` (same at-risk
    machinery, a cumulative SUM of hazard increments instead of a
    product of survival factors); preferred when hazards are the
    modeling target (Aalen 1978).

    Same distributed form as KM: ONE aggregation to the
    per-distinct-time relation, window cumsums for the at-risk count and
    the hazard sum. The float cumsum runs in window order (ascending t)
    on both engines, so addition order is identical and the result
    hash-exact. Output: ``(t, n_risk, d_events, cumhaz_r)`` for death
    times, ordered by t.
    """
    from pyspark.sql import Window

    t = F.col(duration_col)
    ev = F.col(event_col).cast("int")
    per_t = durations.groupBy(t.alias("t")).agg(
        F.sum(ev).alias("d"),
        F.count(F.lit(1)).alias("obs"),
    )
    w_ord = Window.orderBy("t")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    w_prev = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    total = F.sum("obs").over(Window.partitionBy())
    staged = per_t.withColumn(
        "n_risk", total - F.coalesce(F.sum("obs").over(w_prev), F.lit(0))
    ).withColumn(
        "cumhaz",
        F.sum(F.col("d").cast("double") / F.col("n_risk").cast("double")).over(w_cum),
    )
    return (
        staged.filter(F.col("d") > 0)
        .select(
            "t",
            F.col("n_risk").cast("long").alias("n_risk"),
            F.col("d").cast("long").alias("d_events"),
            F.round("cumhaz", 9).alias("cumhaz_r"),
        )
        .orderBy("t")
    )


def cuped_adjust(
    events: DataFrame,
    split_ts: str,
    user_col: str = "user_id",
    value_col: str = "value",
    ts_col: str = "ts",
) -> DataFrame:
    """CUPED variance reduction for A/B readouts (Deng et al., WSDM
    2013): per-user pre-period covariate X (metric before ``split_ts``)
    and experiment metric Y (after), pooled ``theta = cov(X,Y)/var(X)``,
    adjusted metric ``Y - theta*(X - mean(X))``. Arms are the
    deterministic ``user_id % 2`` hash split (the x10 idiom).

    Output (single row): ``(n_users, theta_r, raw_diff_r, adj_diff_r,
    var_reduction_r)`` — the headline a growth team reads: same
    treatment-effect estimate, tighter variance.

    Scale shape: ONE user-keyed aggregation collapses events to the
    (user, x, y) relation (conditional partial sums — no second fact
    pass for the pre-period); moments and per-arm means are one more
    partial-agg pass over that slim relation. Float sums round 9 dp
    (the x63 discipline).
    """
    split = F.lit(split_ts).cast("timestamp")
    per_user = events.groupBy(F.col(user_col).alias("u")).agg(
        F.coalesce(
            F.sum(F.when(F.col(ts_col) < split, F.col(value_col))), F.lit(0.0)
        ).alias("x"),
        F.coalesce(
            F.sum(F.when(F.col(ts_col) >= split, F.col(value_col))), F.lit(0.0)
        ).alias("y"),
    ).withColumn("arm", (F.col("u") % 2).cast("int"))
    m = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.when(F.col("arm") == 1, F.col("y"))).alias("sy1"),
        F.sum(F.when(F.col("arm") == 0, F.col("y"))).alias("sy0"),
        F.sum(F.when(F.col("arm") == 1, F.col("x"))).alias("sx1"),
        F.sum(F.when(F.col("arm") == 0, F.col("x"))).alias("sx0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n0"),
    )
    nd = F.col("n").cast("double")
    # try_divide throughout: zero covariate variance, an empty arm, or a
    # constant outcome make the estimator undefined -> NULL instead of
    # an ANSI raise (SQL division semantics; fuzz-oracle, r10)
    cov = F.col("sxy") / nd - (F.col("sx") / nd) * (F.col("sy") / nd)
    varx = F.col("sxx") / nd - (F.col("sx") / nd) * (F.col("sx") / nd)
    vary = F.col("syy") / nd - (F.col("sy") / nd) * (F.col("sy") / nd)
    theta = F.try_divide(cov, varx)
    raw_diff = F.try_divide(F.col("sy1"), F.col("n1")) - F.try_divide(
        F.col("sy0"), F.col("n0")
    )
    adj_diff = raw_diff - theta * (
        F.try_divide(F.col("sx1"), F.col("n1"))
        - F.try_divide(F.col("sx0"), F.col("n0"))
    )
    # var(Y - theta X) = var(Y) - theta^2 var(X) at the pooled optimum
    var_reduction = F.try_divide(theta * theta * varx, vary)
    return m.select(
        F.col("n").cast("long").alias("n_users"),
        F.round(theta, 9).alias("theta_r"),
        F.round(raw_diff, 9).alias("raw_diff_r"),
        F.round(adj_diff, 9).alias("adj_diff_r"),
        F.round(var_reduction, 9).alias("var_reduction_r"),
    )


def decile_lift(
    events: DataFrame,
    score_event: str = "click",
    convert_event: str = "purchase",
    user_col: str = "user_id",
    value_col: str = "value",
    n_bins: int = 10,
) -> DataFrame:
    """Gains/lift table — the standard targeting-model readout: rank
    users by an engagement score, cut into deciles, report each decile's
    conversion rate against the population rate.

    Score = per-user summed ``value`` over ``score_event`` rows (0 for
    users without any); converted = has any ``convert_event``. Deciles
    are ``ntile`` over (score desc, user) — deterministic under ties.

    Output: ``(decile, n_users, n_converted, conv_rate_r, lift_r)``,
    decile 1 = highest scores.

    Scale shape: one user-keyed aggregation collapses the fact table;
    the ntile runs over the per-user relation (slim; for a truly global
    rank at extreme user counts swap in the x127 offset-table idiom —
    the published output here is decile-level, so sketch-quantile cuts
    are the approximate alternative).
    """
    from pyspark.sql import Window

    per_user = events.groupBy(F.col(user_col).alias("u")).agg(
        F.coalesce(
            F.sum(F.when(F.col("event_type") == score_event, F.col(value_col))),
            F.lit(0.0),
        ).alias("score"),
        F.max((F.col("event_type") == convert_event).cast("int")).alias("conv"),
    )
    w = Window.orderBy(F.desc("score"), F.col("u"))
    tiled = per_user.withColumn("decile", F.ntile(n_bins).over(w))
    per_dec = tiled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("conv").cast("long").alias("n_converted"),
    )
    tot = tiled.agg(
        F.sum("conv").cast("long").alias("__tc"),
        F.count(F.lit(1)).cast("long").alias("__tn"),
    )
    return (
        per_dec.join(F.broadcast(tot))
        .select(
            F.col("decile").cast("int").alias("decile"),
            "n_users",
            "n_converted",
            F.round(F.col("n_converted") / F.col("n_users"), 9).alias("conv_rate_r"),
            # zero population conversions: lift undefined -> NULL
            # (SQL division semantics; fuzz-oracle, r10)
            F.round(
                F.try_divide(
                    F.col("n_converted") / F.col("n_users"),
                    F.col("__tc") / F.col("__tn"),
                ),
                9,
            ).alias("lift_r"),
        )
        .orderBy("decile")
    )


def acf(
    events: DataFrame,
    max_lag: int = 24,
    ts_col: str = "ts",
) -> DataFrame:
    """X142 — exact autocorrelation function of the hourly event-rate
    series at lags 1..max_lag: the time-series diagnostic behind
    seasonality detection (a spike at lag 24 = daily cycle), anomaly-
    window sizing (x87) and forecasting-model selection (Box & Jenkins).

    Exactness by construction: the series is INTEGER hourly counts on a
    DENSE epoch-hour spine (gaps count 0 — silence is data, the x52
    argument), and the full-mean ACF estimator is cleared of divisions by
    multiplying through by n²:

        r_k = (n²·P_k − n·S·(A_k+B_k) + (n−k)·S²) / (n²·Q − n·S²)

    with P_k = Σ c_t·c_{t−k}, A/B the lagged margin sums, S = Σc,
    Q = Σc² — every term an exact DECIMAL(38,0) integer (the x109
    overflow-proof convention; int64 dies around S²·n ~ 9e18), so
    partial-agg merge order can never change a bit, and the release is
    ONE IEEE division. NULL when the series is constant (zero variance).

    Shape: one fact aggregation into hourly counts; the dense spine,
    the (lag × bucket) self-join (≤ max_lag·n_buckets rows — the span
    relation, kilobytes next to the fact table) and the per-lag rollup
    all run on the buckets-sized relation. Fact rows shuffle once.

    Output: ``(lag, n_pairs, acf_r)`` for lags 1..max_lag.
    """
    if max_lag < 1:
        raise ValueError(f"max_lag must be >= 1, got {max_lag}")
    DEC = "decimal(38,0)"
    spark = events.sparkSession

    hour = F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(3600)).alias("t")
    counts = events.groupBy(hour).agg(F.count(F.lit(1)).alias("c"))
    bounds = counts.agg(F.min("t").alias("lo"), F.max("t").alias("hi"))
    spine = bounds.select(F.explode(F.sequence("lo", "hi")).alias("t"))
    dense = spine.join(counts, "t", "left").select(
        "t", F.coalesce("c", F.lit(0)).alias("c")
    )

    lags = spark.range(1, max_lag + 1).select(F.col("id").cast("int").alias("lag"))
    cur = dense.crossJoin(F.broadcast(lags))
    prev = dense.select(F.col("t").alias("__tp"), F.col("c").alias("__cp"))
    pairs = cur.join(prev, cur["t"] - cur["lag"] == prev["__tp"])
    per_lag = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum((F.col("c") * F.col("__cp")).cast(DEC)).alias("P"),
        F.sum(F.col("c").cast(DEC)).alias("A"),
        F.sum(F.col("__cp").cast(DEC)).alias("B"),
    )
    totals = dense.agg(
        F.count(F.lit(1)).cast(DEC).alias("n"),
        F.sum(F.col("c").cast(DEC)).alias("S"),
        F.sum((F.col("c") * F.col("c")).cast(DEC)).alias("Q"),
    )
    j = per_lag.crossJoin(F.broadcast(totals))
    n, S, Q = F.col("n"), F.col("S"), F.col("Q")
    num = (
        n * n * F.col("P")
        - n * S * (F.col("A") + F.col("B"))
        + (n - F.col("lag").cast(DEC)) * S * S
    )
    den = n * n * Q - n * S * S
    return (
        j.select(
            "lag",
            "n_pairs",
            F.round(
                F.when(den > 0, num.cast("double") / den.cast("double")), ROUND_DP
            ).alias("acf_r"),
        )
        .orderBy("lag")
    )


def mann_kendall(
    events: DataFrame,
    ts_col: str = "ts",
    alpha_z: float = 1.96,
) -> DataFrame:
    """X143 — Mann-Kendall trend test + Sen's slope on the daily
    event-rate series: the standard nonparametric "is this metric
    drifting?" monitor (Mann 1945, Kendall 1975; Sen 1968 slope) —
    monotone-trend detection with no normality assumption, robust to
    outliers where the OLS fit (x63) is not.

    The series is INTEGER daily counts on a dense zero-filled epoch-day
    spine (x142's spine; silence is data). All-pairs statistics run on
    the buckets-sized relation — n days → n(n−1)/2 pairs, kilobytes —
    never on fact rows, which shuffle exactly once into the day counts:

    - ``S = Σ_{i<j} sign(c_j − c_i)`` — exact int64;
    - tie-corrected ``18·Var(S) = n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5)``
      kept ×18 as an exact integer; z then costs one exact-int/18
      division, one IEEE sqrt, one more division (all correctly-rounded
      IEEE ops, bit-identical cross-engine);
    - Sen's slope = the exact median of pairwise slopes, each slope ONE
      integer division to double; even-count median = one add + one
      halving (deterministic), the x115 exact-median discipline.

    Output (single row): ``(n_periods, n_pairs, s_stat, var18, z_r,
    sen_slope_r, trend)`` with trend ∈ {increasing, decreasing,
    no_trend} at ``alpha_z`` (default two-sided 5%).
    """
    from pyspark.sql import Window

    day = F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(86400)).alias("t")
    counts = events.groupBy(day).agg(F.count(F.lit(1)).alias("c"))
    bounds = counts.agg(F.min("t").alias("lo"), F.max("t").alias("hi"))
    spine = bounds.select(F.explode(F.sequence("lo", "hi")).alias("t"))
    dense = spine.join(counts, "t", "left").select(
        "t", F.coalesce("c", F.lit(0)).alias("c")
    )

    a = dense.select(F.col("t").alias("t1"), F.col("c").alias("c1"))
    b = dense.select(F.col("t").alias("t2"), F.col("c").alias("c2"))
    # t2 > t1 ⇒ sign(slope) == sign(c2 − c1), so the ONE distinct-slope
    # count relation below carries everything: S = Σ sign(slope)·cnt and
    # the exact median via cumulative counts (the x80/x115 idiom). The
    # quadratic pairs relation is consumed by exactly one aggregation —
    # no recompute, no persist, and the only window runs over distinct
    # slope values (≤ pairs, typically ≪) instead of all n(n−1)/2 rows.
    pairs = a.join(b, F.col("t2") > F.col("t1")).select(
        (
            (F.col("c2") - F.col("c1")).cast("double")
            / (F.col("t2") - F.col("t1")).cast("double")
        ).alias("slope"),
    )
    sc = pairs.groupBy("slope").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = Window.orderBy("slope").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.orderBy("slope").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = sc.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "m", F.sum("cnt").over(w_all)
    )
    lo_rk = F.floor((F.col("m") + 1) / 2)
    hi_rk = F.floor(F.col("m") / 2) + 1
    covers = lambda rk: (F.col("cum") >= rk) & (F.col("cum") - F.col("cnt") < rk)
    stats = cum.agg(
        F.max(F.when(covers(lo_rk), F.col("slope"))).alias("__s_lo"),
        F.max(F.when(covers(hi_rk), F.col("slope"))).alias("__s_hi"),
        F.sum(F.signum(F.col("slope")).cast("long") * F.col("cnt")).alias("s_stat"),
        # a single-period series has ZERO pairs, not NULL pairs (fuzz, r10)
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n_pairs"),
    )
    s_tot = stats.select(
        "s_stat",
        "n_pairs",
        ((F.col("__s_lo") + F.col("__s_hi")) / F.lit(2.0)).alias("sen_slope"),
    )
    nrow = dense.agg(F.count(F.lit(1)).alias("n"))
    ties = (
        dense.groupBy("c")
        .agg(F.count(F.lit(1)).alias("tg"))
        .filter(F.col("tg") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("tg") * (F.col("tg") - 1) * (2 * F.col("tg") + 5)),
                F.lit(0),
            ).alias("tie_term")
        )
    )

    j = s_tot.crossJoin(F.broadcast(nrow)).crossJoin(F.broadcast(ties))
    n = F.col("n")
    var18 = (n * (n - 1) * (2 * n + 5) - F.col("tie_term")).alias("var18")
    var_d = F.col("var18").cast("double") / F.lit(18.0)
    z = F.when(F.col("var18") <= 0, F.lit(None)).otherwise(
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1).cast("double") / F.sqrt(var_d))
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1).cast("double") / F.sqrt(var_d))
        .otherwise(F.lit(0.0))
    )
    staged = j.select(
        n.alias("n_periods"),
        "n_pairs",
        "s_stat",
        var18,
        "sen_slope",
    ).select(
        "n_periods",
        "n_pairs",
        "s_stat",
        "var18",
        F.round(z, ROUND_DP).alias("z_r"),
        F.round(F.col("sen_slope"), ROUND_DP).alias("sen_slope_r"),
    )
    return staged.withColumn(
        "trend",
        F.when(F.col("z_r").isNull(), F.lit("no_trend"))
        .when(F.col("z_r") >= F.lit(alpha_z), F.lit("increasing"))
        .when(F.col("z_r") <= F.lit(-alpha_z), F.lit("decreasing"))
        .otherwise(F.lit("no_trend")),
    )


def bh_critical_z(m: int, q: float = 0.05) -> list[tuple[int, float]]:
    """Benjamini-Hochberg critical |z| ladder for a FIXED family of ``m``
    two-sided z-tests at FDR level ``q``: step i rejects when
    ``|z|_(i) >= crit_i`` with ``crit_i = InvPhi(1 - i*q/(2m))`` — the
    exact inversion of ``p_(i) <= (i/m)*q``, so no engine ever needs an
    erf/erfc (which SQL engines lack and JVM/libm disagree on anyway).

    Computed ONCE on the driver with stdlib ``statistics.NormalDist``
    (pure-Python inverse CDF — platform-independent) and consumed as
    literals by BOTH engines, the x23/x124/x140 shared-table discipline.
    Valid because the family size is a PUBLIC constant (the event-type
    domain), not data-measured.
    """
    from statistics import NormalDist

    nd = NormalDist()
    return [(i, nd.inv_cdf(1.0 - i * q / (2.0 * m))) for i in range(1, m + 1)]


def bh_fdr_ab_family(
    events: DataFrame,
    metric_types: Sequence[str],
    q: float = 0.05,
    user_col: str = "user_id",
    type_col: str = "event_type",
    salt: str = "ab",
) -> DataFrame:
    """X148 — Benjamini-Hochberg FDR control over a FAMILY of A/B tests:
    one two-proportion z-test per metric in ``metric_types`` (per-user
    incidence, x74's deterministic md5 arm split), then the BH step-up
    procedure at FDR ``q`` — the multiple-comparisons guard every
    experimentation platform applies before declaring winners (Benjamini
    & Hochberg 1995).

    The BH comparison ``p_(i) <= (i/m)q`` runs entirely in |z| space
    against the :func:`bh_critical_z` ladder (driver-built literals), so
    the whole procedure is engine-exact: z is the x74 fixed expression,
    ranking is (|z| desc NULLS LAST, metric) — deterministic — and the
    step-up "reject 1..k for the LARGEST passing k" is one window max
    over the m-row family relation. Untestable metrics (zero pooled
    variance -> NULL z) rank last and can never reject.

    Shape: ONE per-user aggregation builds all m incidence flags in one
    pass (no per-metric scans), one wide rollup + stack to the m-row
    relation; everything after is kilobyte-scale.

    Output: ``(metric, conv_a, conv_b, z_r, bh_rank, crit_r,
    rejected)``, one row per metric.
    """
    from pyspark.sql import Window

    if not metric_types:
        raise ValueError("need at least one metric type")
    m = len(metric_types)
    spark = events.sparkSession
    crit = spark.createDataFrame(
        [(i, c) for i, c in bh_critical_z(m, q)], "bh_rank int, crit double"
    )

    flags = [
        F.max(F.when(F.col(type_col) == t, 1).otherwise(0)).alias(f"__f{i}")
        for i, t in enumerate(metric_types)
    ]
    users = events.groupBy(user_col).agg(*flags)
    h = F.substring(
        F.md5(
            F.concat_ws("|", F.col(user_col).cast("string"), F.lit(salt)).cast("binary")
        ),
        1,
        8,
    )
    tagged = users.withColumn("__a", (h < F.lit("80000000")).cast("int"))
    aggs = [F.sum("__a").cast("long").alias("n_a"), F.count(F.lit(1)).alias("n_u")]
    for i in range(m):
        aggs.append(
            F.sum(F.col("__a") * F.col(f"__f{i}")).cast("long").alias(f"__ca{i}")
        )
        aggs.append(
            F.sum((1 - F.col("__a")) * F.col(f"__f{i}")).cast("long").alias(f"__cb{i}")
        )
    wide = tagged.agg(*aggs)

    per_metric = wide.select(
        F.col("n_a"),
        (F.col("n_u") - F.col("n_a")).alias("n_b"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("metric"),
                        F.col(f"__ca{i}").alias("conv_a"),
                        F.col(f"__cb{i}").alias("conv_b"),
                    )
                    for i, t in enumerate(metric_types)
                ]
            )
        ).alias("s"),
    ).select("n_a", "n_b", "s.metric", "s.conv_a", "s.conv_b")

    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    # try_divide: an empty arm yields NULL rates/z instead of raising
    # under ANSI — matching SQL division semantics (fuzz-oracle, r10)
    pa = F.try_divide(F.col("conv_a").cast("double"), na)
    pb = F.try_divide(F.col("conv_b").cast("double"), nb)
    pool = F.try_divide((F.col("conv_a") + F.col("conv_b")).cast("double"), na + nb)
    se = F.sqrt(
        pool
        * (F.lit(1.0) - pool)
        * (F.try_divide(F.lit(1.0), na) + F.try_divide(F.lit(1.0), nb))
    )
    z = F.when(se > 0, (pa - pb) / se)
    scored = per_metric.select(
        "metric", "conv_a", "conv_b", F.round(z, ROUND_DP).alias("z_r")
    )

    w_rank = Window.orderBy(F.desc_nulls_last(F.abs(F.col("z_r"))), "metric")
    ranked = scored.withColumn("bh_rank", F.row_number().over(w_rank)).join(
        F.broadcast(crit), "bh_rank"
    )
    flag = F.col("z_r").isNotNull() & (F.abs(F.col("z_r")) >= F.col("crit"))
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    k = F.max(F.when(flag, F.col("bh_rank")).otherwise(0)).over(w_all)
    return ranked.select(
        "metric",
        "conv_a",
        "conv_b",
        "z_r",
        "bh_rank",
        F.round(F.col("crit"), ROUND_DP).alias("crit_r"),
        (F.col("bh_rank") <= k).alias("rejected"),
    )


def wilcoxon_signed_rank(
    pairs: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """X150 — Wilcoxon signed-rank test on paired observations: the
    nonparametric paired complement to Mann-Whitney (x80, independent
    samples) — "did this population's metric shift between two matched
    conditions?" without normality assumptions (Wilcoxon 1945).

    Convention: zero differences DROP (the classic Wilcoxon treatment),
    |d| ranks are tie-averaged. Exactness is the x109/x147 discipline —
    on the DISTINCT |d| relation, DOUBLED rank sums stay exact integers:

        W2      = 2·W+            (positive-diff doubled rank sum)
        mean2   = n(n+1)/2        (exact int)
        12·var2 = 2n(n+1)(2n+1) − Σ(t³−t)   (tie-corrected, exact int)
        z       = (2·W2 − n(n+1)) / sqrt((12·var2)/3)

    — every engine-released float is a fixed expression over exact
    DECIMAL integers with one /12, one sqrt and one division, all
    correctly-rounded IEEE ops. NULL z when every pair ties (var 0).

    Shape: one aggregation collapses pairs to the distinct-|d| relation
    (cnt, positives per value); the rank cumsum windows that compact
    relation.

    Output (single row): ``(n_pairs, n_nonzero, w2_plus, z_r)``.
    """
    from pyspark.sql import Window

    DEC = "decimal(38,0)"
    d = F.col(y_col) - F.col(x_col)
    base = pairs.select(
        F.abs(d).alias("__ad"), (d > 0).cast("int").alias("__pos"),
        (d != 0).cast("int").alias("__nz"),
    )
    n_all = base.agg(F.count(F.lit(1)).alias("n_pairs"))
    nz = base.filter(F.col("__nz") == 1)
    per_v = nz.groupBy("__ad").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("__pos").alias("pos")
    )
    w = Window.orderBy("__ad").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_v.withColumn("cumb", F.coalesce(F.sum("cnt").over(w), F.lit(0)))
    s = ranked.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast(DEC).alias("n"),
        F.coalesce(
            F.sum((F.col("pos") * (2 * F.col("cumb") + F.col("cnt") + 1)).cast(DEC)),
            F.lit(0).cast(DEC),
        ).alias("w2"),
        F.coalesce(
            F.sum(
                (F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")).cast(DEC)
            ),
            F.lit(0).cast(DEC),
        ).alias("tie3"),
    )
    n = F.col("n")
    # z doubled once more to stay integer end-to-end:
    # (W2 - n(n+1)/2) / sqrt(var12/12)  ==  (2*W2 - n(n+1)) / sqrt(var12/3)
    num = 2 * F.col("w2") - n * (n + 1)
    var12 = 2 * n * (n + 1) * (2 * n + 1) - F.col("tie3")
    z = F.when(
        var12 > 0,
        num.cast("double") / F.sqrt(var12.cast("double") / F.lit(3.0)),
    )
    return s.crossJoin(F.broadcast(n_all)).select(
        "n_pairs",
        n.cast("long").alias("n_nonzero"),
        F.col("w2").cast("long").alias("w2_plus"),
        F.round(z, ROUND_DP).alias("z_r"),
    )


def kruskal_wallis(df: DataFrame, value_col: str, group_col: str) -> DataFrame:
    """Kruskal–Wallis H test — the k-group extension of Mann–Whitney
    (x80): does at least one group's value distribution stochastically
    dominate? The rank-based companion to one-way ANOVA (x110) for
    heavy-tailed metrics.

    Same no-global-rank shape as x80: collapse to the per-distinct-value
    count relation, derive midranks from one ordered cumsum over it, and
    compute per-group rank sums with a slim join of two distinct-value
    relations. H uses the standard tie correction
    ``1 - Σ(t³-t)/(N³-N)``. The only window runs over the distinct-value
    relation (pre-bucket near-continuous metrics at 100 TB — x80 note).

    Output (single row): ``(n_total, k_groups, h_r, h_tie_r)`` with
    h_tie the tie-corrected statistic (χ²_{k-1} under H0).
    """
    from pyspark.sql import Window

    gv = df.select(
        F.col(group_col).alias("__g"), F.col(value_col).alias("__v")
    ).filter(F.col("__v").isNotNull() & F.col("__g").isNotNull())
    per_gv = gv.groupBy("__v", "__g").agg(F.count(F.lit(1)).alias("__c"))
    per_v = gv.groupBy("__v").agg(F.count(F.lit(1)).alias("__t"))
    w_prev = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, -1)
    ranked_v = per_v.select(
        "__v",
        "__t",
        (
            F.coalesce(F.sum("__t").over(w_prev), F.lit(0)).cast("double")
            + (F.col("__t").cast("double") + F.lit(1.0)) / F.lit(2.0)
        ).alias("__midrank"),
    )
    rank_sums = (
        per_gv.join(ranked_v.select("__v", "__midrank"), on="__v")
        .groupBy("__g")
        .agg(
            F.sum("__c").cast("long").alias("__ng"),
            F.sum(F.col("__c").cast("double") * F.col("__midrank")).alias("__rg"),
        )
    )
    ties = ranked_v.agg(
        F.sum(F.col("__t") * F.col("__t") * F.col("__t") - F.col("__t"))
        .cast("double")
        .alias("__tie3")
    )
    agg = rank_sums.agg(
        F.sum("__ng").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("k_groups"),
        F.sum(
            F.col("__rg") * F.col("__rg") / F.col("__ng").cast("double")
        ).alias("__s"),
    ).crossJoin(F.broadcast(ties))
    n = F.col("n_total").cast("double")
    # try_divide: single-observation input makes the tie correction's
    # denominator n^3 - n zero — NULL, not an ANSI raise (fuzz, r10)
    h = F.try_divide(F.lit(12.0), n * (n + 1.0)) * F.col("__s") - F.lit(3.0) * (
        n + 1.0
    )
    corr = F.lit(1.0) - F.try_divide(F.col("__tie3"), n * n * n - n)
    return agg.select(
        "n_total",
        "k_groups",
        F.round(h, 9).alias("h_r"),
        F.round(F.when(corr > 0, h / corr), 9).alias("h_tie_r"),
    )


def cliffs_delta(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Cliff's delta — the ordinal effect size companion to x80's
    Mann–Whitney test: ``δ = (P[a > b] - P[a < b])`` over all cross-group
    pairs, in [-1, 1]. Reports the practical magnitude a bare z-score
    hides.

    Pair counts come from the x80 distinct-value cumsum relation, so the
    whole statistic is INTEGER-exact (win/loss/tie counts are bigint
    sums of count products) until the single final division — no float
    accumulation to absorb, the strongest cross-engine hash contract.

    Output (single row): ``(n_a, n_b, wins_a, wins_b, ties, delta_r)``.
    """
    from pyspark.sql import Window

    g = F.col(group_col)
    counts = (
        df.filter(g.isin([group_a, group_b]) & F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).alias("__v"))
        .agg(
            F.sum(F.when(g == group_a, 1).otherwise(0)).alias("__na"),
            F.sum(F.when(g == group_b, 1).otherwise(0)).alias("__nb"),
        )
    )
    w_prev = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, -1)
    staged = counts.select(
        "__na",
        "__nb",
        F.coalesce(F.sum("__nb").over(w_prev), F.lit(0)).alias("__b_below"),
        F.coalesce(F.sum("__na").over(w_prev), F.lit(0)).alias("__a_below"),
    )
    agg = staged.agg(
        F.sum("__na").cast("long").alias("n_a"),
        F.sum("__nb").cast("long").alias("n_b"),
        F.sum(F.col("__na") * F.col("__b_below")).cast("long").alias("wins_a"),
        F.sum(F.col("__nb") * F.col("__a_below")).cast("long").alias("wins_b"),
        F.sum(F.col("__na") * F.col("__nb")).cast("long").alias("ties"),
    )
    pairs = (F.col("n_a") * F.col("n_b")).cast("double")
    delta = (F.col("wins_a") - F.col("wins_b")).cast("double") / pairs
    return agg.select(
        "n_a", "n_b", "wins_a", "wins_b", "ties",
        F.round(F.when(pairs > 0, delta), 9).alias("delta_r"),
    )


def permutation_test_means(
    df: DataFrame,
    value_col: str,
    unit_col: str,
    n_perms: int = 100,
    salt: str = "permtest",
) -> DataFrame:
    """Randomization-inference p-value for a difference in per-unit mean
    outcomes — the assumption-free companion to the parametric A/B tests
    (x74 z, x135 CUPED): re-randomize the unit assignment ``n_perms``
    times and ask how often the permuted |mean diff| reaches the
    observed one.

    Determinism contract: assignment p=0 (the observed split) AND every
    permutation are drawn from the engine's portable md5 hash
    (``operators/sampling.py`` convention, ``md5(unit|perm|salt)`` first
    8 hex chars vs '80000000'), so any SQL engine reproduces the exact
    same permutations — no RNG state, no seed tables.

    Shape: one fact aggregation to per-unit sums; the (P+1)-way explode
    multiplies only that slim unit relation; per-perm means come from a
    partial-aggregated groupBy to P+1 rows. p-value =
    ``(1 + #{p >= 1 : |diff_p| >= |diff_0|}) / (P + 1)``.

    Output (single row): ``(n_units, n_perms, obs_diff_r, p_value_r)``.
    """
    per_unit = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(unit_col).alias("__u"))
        .agg(F.sum(value_col).alias("__x"))
    )
    perm_ids = F.array([F.lit(i) for i in range(n_perms + 1)])
    assigned = per_unit.select(
        "__u", "__x", F.explode(perm_ids).alias("__p")
    ).withColumn(
        "__treat",
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("__u").cast("string"),
                    F.col("__p").cast("string"),
                    F.lit(salt),
                ).cast("binary")
            ),
            1,
            8,
        )
        < F.lit("80000000"),
    )
    per_perm = assigned.groupBy("__p").agg(
        F.avg(F.when(F.col("__treat"), F.col("__x"))).alias("__mt"),
        F.avg(F.when(~F.col("__treat"), F.col("__x"))).alias("__mc"),
        F.count(F.lit(1)).alias("__n"),
    ).select(
        "__p", "__n", (F.col("__mt") - F.col("__mc")).alias("__diff")
    )
    obs = per_perm.filter(F.col("__p") == 0).select(
        F.col("__n").alias("n_units"), F.col("__diff").alias("__obs")
    )
    return (
        per_perm.filter(F.col("__p") >= 1)
        .crossJoin(F.broadcast(obs))
        .agg(
            F.first("n_units").alias("n_units"),
            F.count(F.lit(1)).cast("long").alias("n_perms"),
            F.round(F.first("__obs"), 6).alias("obs_diff_r"),
            F.round(
                (
                    F.lit(1.0)
                    + F.sum(
                        F.when(
                            F.abs(F.col("__diff")) >= F.abs(F.col("__obs")), 1
                        ).otherwise(0)
                    )
                )
                / (F.count(F.lit(1)) + F.lit(1.0)),
                6,
            ).alias("p_value_r"),
        )
    )


def poisson1_thresholds_hex(cap: int = 8) -> list[str]:
    """Cumulative Poisson(1) CDF mapped onto the md5 8-hex-char space —
    the shared literal table both the Spark bootstrap and its SQL oracle
    compare hashes against (count k iff t_{k-1} <= h < t_k; h >= t_{cap-1}
    gets the capped count). Tail mass beyond ``cap`` is ~1e-6 of draws."""
    import math

    out = []
    cum = 0.0
    for k in range(cap):
        cum += math.exp(-1.0) / math.factorial(k)
        out.append(format(min(int(cum * 16**8), 16**8 - 1), "08x"))
    return out


def bootstrap_ci_mean(
    df: DataFrame,
    value_col: str,
    unit_col: str,
    n_boot: int = 200,
    salt: str = "boot",
) -> DataFrame:
    """Poisson-bootstrap 95% CI for the mean of per-unit value sums —
    the resampling-based uncertainty quantifier that needs no variance
    formula. Each unit's resample multiplicity per replicate is a
    Poisson(1) draw (the streaming-scale bootstrap of Chamandy et al.
    2012), decoded from the engine's portable md5 hash against the
    ``poisson1_thresholds_hex`` literal table, so any SQL engine replays
    the identical resamples.

    Shape: one fact aggregation to per-unit sums; a B-way explode of
    that slim relation; per-replicate weighted means via partial-agg
    groupBy to B rows; the CI is nearest-rank order statistics
    (ceil(.025 B), ceil(.975 B)) over those B values — windows touch a
    B-row relation only.

    Output (single row):
    ``(n_units, n_boot, mean_r, lo95_r, hi95_r)``.
    """
    from pyspark.sql import Window

    thresholds = poisson1_thresholds_hex()
    per_unit = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(unit_col).alias("__u"))
        .agg(F.sum(value_col).alias("__x"))
    )
    boot_ids = F.array([F.lit(i) for i in range(1, n_boot + 1)])
    h = F.substring(
        F.md5(
            F.concat_ws(
                "|",
                F.col("__u").cast("string"),
                F.col("__b").cast("string"),
                F.lit(salt),
            ).cast("binary")
        ),
        1,
        8,
    )
    w_expr = F.lit(len(thresholds))
    for k in range(len(thresholds) - 1, -1, -1):
        w_expr = F.when(h < F.lit(thresholds[k]), F.lit(k)).otherwise(w_expr)
    exploded = per_unit.select(
        "__u", "__x", F.explode(boot_ids).alias("__b")
    ).withColumn("__w", w_expr)
    boots = exploded.groupBy("__b").agg(
        # try_divide: an all-zero-weight replicate is the documented
        # NULL-mean case below — it must not ANSI-raise (fuzz, r10)
        F.try_divide(
            F.sum(F.col("__w").cast("double") * F.col("__x")),
            F.sum(F.col("__w").cast("double")),
        ).alias("__m")
    )
    # A replicate where every unit drew Poisson weight 0 has a NULL mean
    # (0/0); Spark windows order NULLs FIRST while DuckDB defaults to
    # NULLS LAST — drop them before ranking on BOTH sides (the oracle
    # mirrors this) so the nearest-rank indices can never land on a NULL.
    # The nearest-rank indices are then computed from the SURVIVING
    # replicate count (integer ceil on positive operands: (k·m+999) div
    # 1000 — equals the usual ceil(0.025·B)/ceil(0.975·B) constants when
    # nothing is dropped, and stays in range when replicates are), so a
    # dropped replicate can neither shift the percentile nor push the
    # index past the relation.
    w_rank = Window.orderBy(F.col("__m").asc())
    w_all = Window.orderBy(F.col("__m").asc()).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = (
        boots.filter(F.col("__m").isNotNull())
        .withColumn("__rk", F.row_number().over(w_rank))
        .withColumn("__n", F.count(F.lit(1)).over(w_all))
    )
    lo_rk = F.expr("(25 * __n + 999) div 1000")
    hi_rk = F.expr("(975 * __n + 999) div 1000")
    ci = ranked.agg(
        F.max(F.when(F.col("__rk") == lo_rk, F.col("__m"))).alias("__lo"),
        F.max(F.when(F.col("__rk") == hi_rk, F.col("__m"))).alias("__hi"),
        F.count(F.lit(1)).cast("long").alias("n_boot"),
    )
    base = per_unit.agg(
        F.count(F.lit(1)).cast("long").alias("n_units"),
        F.avg("__x").alias("__mean"),
    )
    return base.crossJoin(F.broadcast(ci)).select(
        "n_units",
        "n_boot",
        F.round("__mean", 6).alias("mean_r"),
        F.round("__lo", 6).alias("lo95_r"),
        F.round("__hi", 6).alias("hi95_r"),
    )


def theil_index(df: DataFrame, value_col: str, group_cols: Sequence[str]) -> DataFrame:
    """Theil T inequality index per group — the decomposable companion
    to the Gini concentration (x111): ``T = (1/n) Σ (x/μ) ln(x/μ)`` over
    strictly positive values, 0 = perfect equality, ln(n) = one unit
    holds everything.

    One partial-aggregated pass: Σx and n per group first, then a second
    pass folds Σ x·ln(x) — rewritten as
    ``T = (Σ x·ln(x)) / (n·μ) - ln(μ)`` so no per-row join against the
    group mean is needed; both engines sum the same libm ln values and
    round at 6 dp (x154 float contract).

    Output: ``(*group_cols, n, total_r, theil_r)``.
    """
    pos = df.filter(F.col(value_col) > 0)
    x = F.col(value_col).cast("double")
    agg = pos.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).alias("__s"),
        F.sum(x * F.log(x)).alias("__sxlnx"),
    )
    mu = F.col("__s") / F.col("n")
    theil = F.col("__sxlnx") / F.col("__s") - F.log(mu)
    return agg.select(
        *group_cols,
        "n",
        F.round("__s", 6).alias("total_r"),
        F.round(theil, 6).alias("theil_r"),
    )


def mahalanobis_outliers(
    df: DataFrame,
    x_col,
    y_col,
    id_cols: Sequence[str],
    top: int = 10,
) -> DataFrame:
    """Bivariate Mahalanobis-distance outlier screen — the covariance-
    aware upgrade of the per-column MAD screen (x53): rows unusual in
    the JOINT distribution (e.g. high price with low quantity) score
    high even when each marginal looks ordinary.

    For 2-D the inverse covariance has a closed form, so
    ``d² = (s_yy·dx² - 2·s_xy·dx·dy + s_xx·dy²) / det`` is a plain
    column expression both engines evaluate identically from the same
    five moment scalars (population covariance, one aggregation).
    Shape: ONE moments pass, the 5-scalar relation broadcast back, a
    map-only d² projection, distributed TakeOrdered for the top cut.

    Output: ``(*id_cols, x, y, d2_r)``, top ``top`` rows by
    (d2_r desc, *id_cols).
    """
    x = (x_col if not isinstance(x_col, str) else F.col(x_col)).cast("double")
    y = (y_col if not isinstance(y_col, str) else F.col(y_col)).cast("double")
    base = df.select(*id_cols, x.alias("x"), y.alias("y")).filter(
        F.col("x").isNotNull() & F.col("y").isNotNull()
    )
    m = base.agg(
        F.count(F.lit(1)).alias("__n"),
        F.avg("x").alias("__mx"),
        F.avg("y").alias("__my"),
        F.avg(F.col("x") * F.col("x")).alias("__sxx2"),
        F.avg(F.col("y") * F.col("y")).alias("__syy2"),
        F.avg(F.col("x") * F.col("y")).alias("__sxy2"),
    ).select(
        "__mx",
        "__my",
        (F.col("__sxx2") - F.col("__mx") * F.col("__mx")).alias("__sxx"),
        (F.col("__syy2") - F.col("__my") * F.col("__my")).alias("__syy"),
        (F.col("__sxy2") - F.col("__mx") * F.col("__my")).alias("__sxy"),
    )
    dx = F.col("x") - F.col("__mx")
    dy = F.col("y") - F.col("__my")
    det = F.col("__sxx") * F.col("__syy") - F.col("__sxy") * F.col("__sxy")
    d2 = (
        F.col("__syy") * dx * dx
        - F.lit(2.0) * F.col("__sxy") * dx * dy
        + F.col("__sxx") * dy * dy
    ) / det
    return (
        base.crossJoin(F.broadcast(m))
        .select(*id_cols, "x", "y", F.round(F.when(det > 0, d2), 6).alias("d2_r"))
        .orderBy(F.col("d2_r").desc(), *[F.col(c).asc() for c in id_cols])
        .limit(top)
    )


# O'Brien-Fleming two-sided group-sequential constants c(K) at overall
# alpha=0.05 (Jennison & Turnbull 2000, Table 2.3); boundary at look k of
# K is c(K)*sqrt(K/k). Public literals — shared verbatim with the oracle.
OBF_C = {1: 1.960, 2: 1.977, 3: 2.004, 4: 2.024, 5: 2.040}


def sequential_ab(
    events: DataFrame,
    looks: Sequence[str],
    convert_type: str = "purchase",
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    salt: str = "ab",
) -> DataFrame:
    """X168 — group-sequential A/B monitoring with O'Brien-Fleming
    boundaries: at each scheduled interim look the cumulative
    two-proportion z (x74 fixed expression, portable md5 arm split) is
    compared against ``OBF_C[K]*sqrt(K/k)`` — early looks need
    overwhelming evidence, the final look spends almost the full alpha
    (Pocock/OBF sequential-testing canon; Jennison & Turnbull 2000).

    ``looks`` is a PUBLIC calendar of K cutoff timestamps (data-
    independent — required for the boundary constants to be literals).
    A user enters look k's denominator when their first event is at or
    before the cutoff; they convert if their first ``convert_type``
    event is too.

    Shape: ONE per-user collapse (arm, first-event ts, first-conversion
    ts); the K-way explode multiplies that slim relation; per-look
    counts partial-aggregate to K rows; z and the boundary are fixed
    expressions over those K rows.

    Output: ``(look, n_a, n_b, conv_a, conv_b, z_r, bound_r, reject)``.
    """
    k_total = len(looks)
    if k_total not in OBF_C:
        raise ValueError(f"looks must have 1..{max(OBF_C)} entries")
    c = OBF_C[k_total]
    per_user = events.groupBy(F.col(user_col).alias("__u")).agg(
        F.min(ts_col).alias("__first"),
        F.min(
            F.when(F.col(type_col) == convert_type, F.col(ts_col))
        ).alias("__conv"),
    ).withColumn(
        "__arm_a",
        F.substring(
            F.md5(
                F.concat_ws("|", F.col("__u").cast("string"), F.lit(salt)).cast(
                    "binary"
                )
            ),
            1,
            8,
        )
        < F.lit("80000000"),
    )
    look_rows = F.array(
        *[
            F.struct(
                F.lit(i + 1).alias("look"),
                F.lit(ts).cast("timestamp").alias("__cut"),
            )
            for i, ts in enumerate(looks)
        ]
    )
    staged = per_user.select(
        "__u", "__first", "__conv", "__arm_a", F.explode(look_rows).alias("__l")
    ).select(
        "__u", "__first", "__conv", "__arm_a",
        F.col("__l.look").alias("look"), F.col("__l.__cut").alias("__cut"),
    ).filter(F.col("__first") <= F.col("__cut"))
    agg = staged.groupBy("look").agg(
        F.sum(F.when(F.col("__arm_a"), 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(~F.col("__arm_a"), 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(
            F.when(F.col("__arm_a") & (F.col("__conv") <= F.col("__cut")), 1).otherwise(0)
        ).cast("long").alias("conv_a"),
        F.sum(
            F.when((~F.col("__arm_a")) & (F.col("__conv") <= F.col("__cut")), 1).otherwise(0)
        ).cast("long").alias("conv_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    # try_divide: an empty arm at a look yields NULL z (fuzz-oracle, r10)
    pa = F.try_divide(F.col("conv_a").cast("double"), na)
    pb = F.try_divide(F.col("conv_b").cast("double"), nb)
    pool = F.try_divide((F.col("conv_a") + F.col("conv_b")).cast("double"), na + nb)
    se = F.sqrt(
        pool
        * (1.0 - pool)
        * (F.try_divide(F.lit(1.0), na) + F.try_divide(F.lit(1.0), nb))
    )
    z = F.when(se > 0, (pa - pb) / se)
    bound = F.lit(c) * F.sqrt(F.lit(float(k_total)) / F.col("look").cast("double"))
    return agg.select(
        "look", "n_a", "n_b", "conv_a", "conv_b",
        F.round(z, 9).alias("z_r"),
        F.round(bound, 9).alias("bound_r"),
        (F.abs(F.coalesce(z, F.lit(0.0))) >= bound).alias("reject"),
    )


def diff_in_diff(
    df: DataFrame,
    value_col: str,
    unit_col: str,
    ts_col: str,
    cutoff: str,
    salt: str = "ab",
) -> DataFrame:
    """Two-period difference-in-differences estimator: the causal-
    inference workhorse for launches without a concurrent control —
    ``DiD = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre)`` removes both
    the group baseline and the common time trend (Card & Krueger 1994
    canon). Arms come from the engine's portable md5 split; pre/post
    from the public ``cutoff`` timestamp.

    Per-cell means are over PER-UNIT period sums (unit-level clustering
    of the metric, the x80/x158 discipline), and the plug-in standard
    error aggregates the four cell variances ``Σ s²_cell/n_cell``. One
    per-(unit, period) collapse is the only fact shuffle; everything
    after runs on the 4-row cell relation.

    Output (single row): ``(n_units, did_r, se_r, t_r)`` plus the four
    cell means.
    """
    cut = F.lit(cutoff).cast("timestamp")
    per_unit = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(
            F.col(unit_col).alias("__u"),
            (F.col(ts_col) >= cut).alias("__post"),
        )
        .agg(F.sum(value_col).alias("__x"))
        .withColumn(
            "__treat",
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", F.col("__u").cast("string"), F.lit(salt)
                    ).cast("binary")
                ),
                1,
                8,
            )
            < F.lit("80000000"),
        )
    )
    cells = per_unit.groupBy("__treat", "__post").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.avg("__x").alias("__m"),
        (F.avg(F.col("__x") * F.col("__x")) - F.avg("__x") * F.avg("__x")).alias(
            "__v"
        ),
    )
    cell = lambda t, p, col: F.max(  # noqa: E731 — 4-row pivot
        F.when((F.col("__treat") == t) & (F.col("__post") == p), F.col(col))
    )
    agg = cells.agg(
        F.sum("__n").alias("n_units"),
        cell(True, False, "__m").alias("m_t_pre"),
        cell(True, True, "__m").alias("m_t_post"),
        cell(False, False, "__m").alias("m_c_pre"),
        cell(False, True, "__m").alias("m_c_post"),
        F.sum(F.col("__v") / (F.col("__n") - 1)).alias("__se2"),
    )
    did = (F.col("m_t_post") - F.col("m_t_pre")) - (
        F.col("m_c_post") - F.col("m_c_pre")
    )
    se = F.sqrt(F.col("__se2"))
    return agg.select(
        "n_units",
        F.round("m_t_pre", 6).alias("m_t_pre_r"),
        F.round("m_t_post", 6).alias("m_t_post_r"),
        F.round("m_c_pre", 6).alias("m_c_pre_r"),
        F.round("m_c_post", 6).alias("m_c_post_r"),
        F.round(did, 6).alias("did_r"),
        F.round(se, 6).alias("se_r"),
        F.round(F.when(se > 0, did / se), 6).alias("t_r"),
    )


def pettitt_test(
    series: DataFrame,
    t_col: str = "t",
    v_col: str = "v",
) -> DataFrame:
    """X179 — Pettitt changepoint test (Pettitt 1979, "A non-parametric
    approach to the change-point problem"): locate the single most likely
    abrupt shift in a series' distribution with no normality assumption —
    the rank-based complement to CUSUM (x88, which assumes a known target
    mean) and Mann–Kendall (x143, which tests monotone TREND; Pettitt
    tests a STEP). The standard hydrology/monitoring changepoint screen.

    Math kept exactly integer until the final p-value: with midranks
    ``R_i`` of the full series, ``U_t = 2·Σ_{i≤t} R_i − t(n+1)``.
    ``2·R_i`` for a tie group occupying sorted positions ``a..a+c−1`` is
    ``2a + c − 1`` — an integer — so every ``U_t`` is an exact int64
    (midranks never materialize as floats). ``K = max|U_t|`` over
    ``t ≤ n−1``; the changepoint is the FIRST period achieving it (total
    order, partitioning-independent). Significance is Pettitt's
    approximation ``p ≈ min(1, 2·exp(−6K²/(n³+n²)))`` — one scalar exp on
    the single released row, rounded at 9 dp (the x79 exp contract).

    Input: a ``(t, v)`` series relation (caller aggregates fact rows to
    periods first — the all-rows windows here run on the PERIODS
    relation, thousands of rows at any corpus scale, never on fact rows;
    the x143 discipline). Output (single row):
    ``(n_periods, k_stat, u_at_change, change_t, p_r)``.

    Scale shape: fact rows shuffle once into the period aggregation
    upstream; everything after is windows over the slim period relation
    (two single-partition sorts of ~10^3 rows) and a constant-size
    release row.
    """
    from pyspark.sql import Window

    t, v = F.col(t_col), F.col(v_col)
    # a period with NULL value has no rank; NULL ORDER BY position is
    # engine-dependent — exclude (fuzz-oracle finding, r10)
    series = series.filter(v.isNotNull())
    n_w = Window.partitionBy()
    rnk_w = Window.orderBy(v_col)
    tie_w = Window.partitionBy(v_col)
    ranked = series.select(
        t.alias("__t"),
        (2 * F.rank().over(rnk_w) + F.count(F.lit(1)).over(tie_w) - 1).alias("__r2"),
        F.count(F.lit(1)).over(n_w).alias("__n"),
    )
    cum_w = Window.orderBy("__t").rowsBetween(Window.unboundedPreceding, 0)
    u = ranked.select(
        "__t",
        "__n",
        F.row_number().over(Window.orderBy("__t")).alias("__i"),
        (F.sum("__r2").over(cum_w) - F.row_number().over(Window.orderBy("__t"))
         * (F.col("__n") + 1)).alias("__u"),
    ).filter(F.col("__i") <= F.col("__n") - 1)
    best = u.select(
        F.col("__n").alias("n_periods"),
        F.col("__u").alias("u_at_change"),
        F.abs("__u").alias("__k"),
        "__t",
        F.row_number()
        .over(Window.orderBy(F.abs("__u").desc(), F.col("__t").asc()))
        .alias("__rn"),
    ).filter(F.col("__rn") == 1)
    n_d = F.col("n_periods").cast("double")
    k_d = F.col("__k").cast("double")
    return best.select(
        F.col("n_periods").cast("long").alias("n_periods"),
        F.col("__k").cast("long").alias("k_stat"),
        F.col("u_at_change").cast("long").alias("u_at_change"),
        F.col("__t").alias("change_t"),
        F.round(
            F.least(
                F.lit(1.0),
                2.0 * F.exp(-6.0 * k_d * k_d / (n_d * n_d * n_d + n_d * n_d)),
            ),
            9,
        ).alias("p_r"),
    )


def split_conformal(
    df: DataFrame,
    y_col: str,
    group_cols: Sequence[str],
    id_col: str,
    alpha: float = 0.1,
) -> DataFrame:
    """X182 — split-conformal prediction intervals (Papadopoulos et al.
    2002; Vovk's inductive conformal prediction; the Lei et al. 2018
    distribution-free regression recipe): the standard
    finite-sample-valid uncertainty wrapper for ANY predictor — here the
    per-group mean, the simplest exchangeable baseline. An ML-eval op a
    training pipeline needs next to accuracy (c10) and calibration
    (x136): "what +-q certifies 90% coverage, and does held-out coverage
    actually hit it?"

    Protocol, exact and engine-portable end to end:

    - split by id parity: calibration = even, evaluation = odd (a
      deterministic, partitioning-independent split — the x10 idiom);
    - predictor: the calibration-half group mean, ROUNDED AT 6 dp before
      any residual is formed (both engines' float sums agree to ~1e-10
      relative; rounding makes the *predictor* bit-identical so every
      residual after it is an exact IEEE subtraction of shared doubles);
    - nonconformity: absolute residual; q_hat = the k-th smallest
      calibration residual with ``k = ceil((n_cal + 1) (1 - alpha))`` —
      the conformal index that gives the >= 1 - alpha finite-sample
      guarantee (NOT the naive empirical quantile, which undercovers);
      an exact order statistic, no interpolation;
    - coverage = fraction of evaluation residuals <= q_hat, an exact
      int/int ratio.

    Groups where ``k > n_cal`` (calibration too small for the requested
    alpha: the honest interval is infinite) are RELEASED with NULL
    ``q_r``/``coverage_r`` rather than dropped — an auditor must see
    which groups could not be certified. Evaluation rows in groups with
    no calibration rows at all have no predictor and are not released
    (no row, disclosed here).

    Output per group: ``(*group_cols, n_cal, n_eval, q_r, coverage_r)``
    — q at 6 dp, coverage at 9.

    Scale shape: one shuffle on the group key for the calibration
    aggregate, one for the order statistic (window over each group's
    CALIBRATION rows only), one broadcast-size join of the per-group
    (yhat, q) relation back to evaluation rows; no corpus-wide sort.
    """
    from pyspark.sql import Window

    if not 0.0 < alpha < 1.0:
        raise ValueError("alpha must be in (0, 1)")
    gcols = list(group_cols)
    y = F.col(y_col).cast("double")
    rows = df.filter(y.isNotNull())
    cal = rows.filter((F.col(id_col) % 2) == 0)
    ev = rows.filter((F.col(id_col) % 2) == 1)
    stats = cal.groupBy(*gcols).agg(
        F.round(F.sum(y) / F.count(F.lit(1)), 6).alias("__yhat"),
        F.count(F.lit(1)).alias("n_cal"),
        F.ceil((F.count(F.lit(1)) + 1) * F.lit(1.0 - alpha)).cast("long").alias("__k"),
    )
    calr = cal.join(stats, gcols).select(
        *gcols,
        F.abs(y - F.col("__yhat")).alias("__r"),
        F.col(id_col).alias("__id"),
        "__k",
    )
    rn = F.row_number().over(
        Window.partitionBy(*gcols).orderBy(F.col("__r"), F.col("__id"))
    )
    q = (
        calr.withColumn("__rn", rn)
        .filter(F.col("__rn") == F.col("__k"))
        .select(*gcols, F.col("__r").alias("__q"))
    )
    per_group = stats.join(q, gcols, "left")  # k > n_cal -> no q row -> NULL
    evr = ev.join(per_group, gcols).select(
        *gcols, F.abs(y - F.col("__yhat")).alias("__r"), "__q"
    )
    cov = evr.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("n_eval"),
        F.round(
            F.sum((F.col("__r") <= F.col("__q")).cast("long"))
            / F.count(F.lit(1)),
            9,
        ).alias("coverage_r"),
    )
    return (
        per_group.join(cov, gcols, "left")
        .select(
            *gcols,
            F.col("n_cal").cast("long").alias("n_cal"),
            F.coalesce(F.col("n_eval"), F.lit(0)).cast("long").alias("n_eval"),
            F.round(F.col("__q"), 6).alias("q_r"),
            F.when(F.col("__q").isNotNull(), F.col("coverage_r")).alias("coverage_r"),
        )
    )


def markov_stationary(
    events: DataFrame,
    n_iter: int = 20,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """X188 — stationary distribution of the empirical event-type Markov
    chain: where user flow CONVERGES — the long-run share of attention
    each state captures, the summary the x72 transition matrix feeds
    (and the non-graph cousin of PageRank: same power iteration, chain =
    observed behavior instead of links).

    The chain is the row-normalized MLE of x72's transition counts
    (UNROUNDED divisions of exact int64 counts — both engines derive
    bit-identical probabilities). Dangling states (appearing only as a
    transition TARGET) get a self-loop so probability mass is conserved;
    the start vector is uniform over the full state set; ``n_iter``
    fixed power-iteration steps (the x36-chain discipline: a FIXED
    unrolled computation, not a convergence test, so both engines run
    the identical arithmetic).

    Driver-side iteration is the deliberate scale choice, NOT a
    shortcut: the state space is the event-type vocabulary — tens of
    states by contract, a <=|S|^2 relation — while the DATA-side work
    (the per-user lag + the count aggregation) stays distributed. This
    is the kcenter/x171 idiom: corpus-scale extraction in Spark,
    bounded-size math on the collected summary, released as literals.
    Accumulation order inside each step is pinned (sorted state order)
    so the doubles are reproducible; the oracle's SQL SUM differs only
    in last-bit summation order, absorbed by the 9 dp release rounding.

    Output: one row per state, ``(state, pi_r)`` — including
    zero-incoming states at exactly 0.0.
    """
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    counts = (
        transition_matrix(events, user_col, ts_col, type_col, id_col)
        .select("from_type", "to_type", "cnt")
        .collect()
    )
    c: dict[tuple[str, str], int] = {(r.from_type, r.to_type): r.cnt for r in counts}
    states = sorted({s for pair in c for s in pair})
    row_tot: dict[str, int] = {}
    for (f, _t), n in c.items():
        row_tot[f] = row_tot.get(f, 0) + n
    prob: dict[tuple[str, str], float] = {
        (f, t): n / row_tot[f] for (f, t), n in c.items()
    }
    for s in states:
        if s not in row_tot:
            prob[(s, s)] = 1.0  # dangling: self-loop conserves mass
    pi = {s: 1.0 / len(states) for s in states} if states else {}
    for _ in range(n_iter):
        nxt = {s: 0.0 for s in states}
        for f in states:  # sorted order pins the accumulation
            pf = pi[f]
            if pf == 0.0:
                continue
            for t in states:
                p = prob.get((f, t))
                if p is not None:
                    nxt[t] += pf * p
        pi = nxt
    spark = events.sparkSession
    return spark.createDataFrame(
        [(s, round(pi[s], 9)) for s in states], "state STRING, pi_r DOUBLE"
    )


def cohens_kappa(
    df: DataFrame, gold_col: str, pred_col: str
) -> DataFrame:
    """Cohen's kappa — chance-corrected agreement between two
    categorical labelings (Cohen 1960): the standard inter-annotator /
    model-vs-gold agreement statistic a labeling pipeline reports
    alongside raw accuracy.

    ``kappa = (p_o - p_e) / (1 - p_e)`` with observed agreement
    ``p_o = n_agree / n`` and chance agreement
    ``p_e = Σ_c gold_c · pred_c / n²`` over the label marginals.

    Output: one row ``(n, n_agree, po_r, pe_r, kappa_r)`` (9 dp; kappa
    NULL when p_e = 1, i.e. both sides constant and equal — agreement is
    then undefined, not perfect).

    Scale shape: ONE (gold, pred) aggregation collapses the fact table
    to a confusion matrix of |labels|² rows; marginals and the kappa
    arithmetic run on that tiny relation (broadcast joins). All counts
    exact int64; ``p_e``'s numerator Σ gold_c·pred_c <= n², so stay under
    ~3e9 rows per call or pre-aggregate (documented bound).
    """
    cm = (
        df.groupBy(
            F.col(gold_col).alias("g"), F.col(pred_col).alias("p")
        ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tot = cm.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.when(F.col("g") == F.col("p"), F.col("c")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_agree"),
    )
    gm = cm.groupBy("g").agg(F.sum("c").cast("long").alias("gc"))
    pm = cm.groupBy("p").agg(F.sum("c").cast("long").alias("pc"))
    chance = (
        gm.join(pm, gm["g"] == pm["p"])
        .agg(F.sum(F.col("gc") * F.col("pc")).cast("long").alias("s"))
    )
    po = F.col("n_agree").cast("double") / F.col("n").cast("double")
    pe = F.col("s").cast("double") / (
        F.col("n").cast("double") * F.col("n").cast("double")
    )
    return (
        tot.join(F.broadcast(chance))
        .select(
            "n",
            "n_agree",
            F.round(po, 9).alias("po_r"),
            F.round(pe, 9).alias("pe_r"),
            F.round(
                F.when(pe < 1.0, (po - pe) / (F.lit(1.0) - pe)), 9
            ).alias("kappa_r"),
        )
    )


def calibration_table(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_tiles: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reliability table + expected calibration error (ECE) of a score
    against a binary outcome — the readout before trusting a quality /
    ranking score as a probability (Naeini et al. 2015; Guo et al. 2017
    make ECE the headline calibration number).

    The score is min-max normalized to integer parts-per-billion
    (``ppb = floor((s - min) / (max - min) · 1e9)``) so every per-tile
    mean is an exact int64 sum and one IEEE division — no float
    summation order anywhere. Tiles are exact equal-frequency cuts on
    ``(score DESC, id)`` via the explicit ``(rank-1)·n_tiles // n``
    formula (tile 1 = highest scores). Per tile: size, positives, mean
    normalized score, empirical positive rate, |gap|; ``ece_r`` (the
    size-weighted mean |gap|, identical on every row) rides along so the
    table is self-contained.

    Scale shape: one projection computes ppb (two scalar-subquery
    min/max aggregates, broadcast); the global rank is a total order —
    at extreme row counts swap in the x127 offset-table idiom; released
    output is tile-level either way. Sum of ppb per tile <= n·1e9:
    stay under ~9e9 rows per tile (int64 bound, documented).
    """
    from pyspark.sql import Window

    mm = df.agg(
        F.min(F.col(score_col).cast("double")).alias("mn"),
        F.max(F.col(score_col).cast("double")).alias("mx"),
        F.count(F.lit(1)).cast("long").alias("n_all"),
    )
    scored = df.join(F.broadcast(mm)).select(
        F.col(id_col).alias("__id"),
        F.col(score_col).cast("double").alias("__s"),
        F.col(label_col).cast("int").alias("__y"),
        "mn",
        "mx",
        "n_all",
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.floor(
                (F.col(score_col).cast("double") - F.col("mn"))
                * F.lit(1_000_000_000.0)
                / (F.col("mx") - F.col("mn"))
            )
        )
        .cast("long")
        .alias("__ppb"),
    )
    w = Window.orderBy(F.desc("__s"), F.col("__id"))
    tiled = scored.withColumn("__rn", F.row_number().over(w)).withColumn(
        "tile",
        F.expr(f"(CAST(__rn - 1 AS BIGINT) * {int(n_tiles)}) div n_all") + 1,
    )
    per_tile = tiled.groupBy("tile").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__y").cast("long").alias("n_pos"),
        F.sum("__ppb").cast("long").alias("__sppb"),
        F.max("n_all").alias("__n_all"),
    )
    mean_s = F.col("__sppb").cast("double") / (
        F.col("n").cast("double") * F.lit(1_000_000_000.0)
    )
    rate = F.col("n_pos").cast("double") / F.col("n").cast("double")
    gap = F.abs(mean_s - rate)
    with_gap = per_tile.select(
        F.col("tile").cast("int").alias("tile"),
        "n",
        "n_pos",
        F.round(mean_s, 9).alias("mean_score_r"),
        F.round(rate, 9).alias("pos_rate_r"),
        F.round(gap, 9).alias("abs_gap_r"),
        (gap * F.col("n").cast("double") / F.col("__n_all").cast("double")).alias(
            "__w_gap"
        ),
    )
    ece = with_gap.agg(F.round(F.sum("__w_gap"), 9).alias("ece_r"))
    return with_gap.join(F.broadcast(ece)).drop("__w_gap")


def selection_rate_parity(
    df: DataFrame, group_col: str, flag_col: str
) -> DataFrame:
    """Per-group selection-rate fairness audit: statistical parity
    difference and disparate-impact ratio of a boolean outcome across a
    protected/grouping attribute — the four-fifths-rule numbers
    (Feldman et al. 2015) a dataset owner checks before releasing a
    filtered corpus or a selection model's output.

    Output per group: ``(group, n, n_selected, rate_r,
    overall_rate_r, parity_diff_r = rate - overall,
    di_ratio_r = rate / max-group-rate)`` (9 dp). Groups with the
    maximum rate release ratio 1.0; a ratio under 0.8 fails the
    four-fifths rule.

    Scale shape: one grouped aggregation collapses the fact table to
    |groups| rows; overall/max ride a broadcast single-row join. All
    rates are one IEEE division over exact int64 counts; the max is a
    max over identical doubles — deterministic cross-engine.
    """
    per = df.groupBy(F.col(group_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col(flag_col).cast("int")).cast("long").alias("n_selected"),
    )
    rate = F.col("n_selected").cast("double") / F.col("n").cast("double")
    rated = per.select(F.col(group_col), "n", "n_selected", rate.alias("__rate"))
    glob = rated.agg(
        F.sum("n_selected").cast("long").alias("__ts"),
        F.sum("n").cast("long").alias("__tn"),
        F.max("__rate").alias("__mx"),
    )
    overall = F.col("__ts").cast("double") / F.col("__tn").cast("double")
    return rated.join(F.broadcast(glob)).select(
        F.col(group_col),
        "n",
        "n_selected",
        F.round(F.col("__rate"), 9).alias("rate_r"),
        F.round(overall, 9).alias("overall_rate_r"),
        F.round(F.col("__rate") - overall, 9).alias("parity_diff_r"),
        F.round(
            F.when(F.col("__mx") > 0, F.col("__rate") / F.col("__mx")), 9
        ).alias("di_ratio_r"),
    )


def holt_linear(
    df: DataFrame,
    series_cols: Sequence[str],
    ts_col: str = "ts",
    bucket: str = "day",
    alpha: float = 0.3,
    beta: float = 0.1,
    horizons: Sequence[int] = (1, 7),
) -> DataFrame:
    """Holt double-exponential smoothing (level + linear trend, Holt
    1957) of per-series bucketed counts, releasing each series' final
    state and h-step forecasts — the classic trend-aware capacity
    forecast one step up from :func:`ewma_smooth` (which has no trend
    term and goes stale under drift).

    State init from the first two buckets (``L = x_1``,
    ``B = x_2 - x_1``), then for every later bucket
    ``L' = α·x + (1-α)(L+B)``, ``B' = β(L'-L) + (1-β)B``. Series with
    fewer than 2 buckets are excluded (no trend support).

    Exactness: the recursion is inherently sequential, but the series
    axis is bounded (buckets per series = the calendar), so it runs as
    an IN-ROW fold — ``aggregate`` over the bucket-sorted count array,
    state = array(level, trend) — entirely JVM-side inside whole-stage
    codegen, no Python, no per-round shuffle. Both engines execute the
    identical IEEE sequence on identical doubles, so results match
    bit-for-bit (9 dp release). One shuffle total (the series
    aggregation); the fold is map-side on |series| rows.

    Output: ``(*series_cols, n_buckets, level_r, trend_r,
    fc{h}_r ...)``.
    """
    a = float(alpha)
    b = float(beta)
    counts = df.groupBy(
        *[F.col(c) for c in series_cols],
        F.date_trunc(bucket, F.col(ts_col)).alias("__b"),
    ).agg(F.count(F.lit(1)).cast("long").alias("__x"))
    per_series = counts.groupBy(*[F.col(c) for c in series_cols]).agg(
        F.expr(
            "transform(array_sort(collect_list(struct(__b, __x))),"
            " e -> CAST(e.__x AS DOUBLE))"
        ).alias("__v")
    )
    # fold items = 3rd bucket onward (1-based slice; state seeded from
    # the first two). L' appears twice in the lambda on purpose: both
    # occurrences are the same IEEE expression, so recomputing it is
    # exact and keeps the state a plain array<double>.
    lp = f"({a}D * x + {1.0 - a}D * (s[0] + s[1]))"
    fold = (
        f"aggregate(slice(__v, 3, greatest(size(__v) - 2, 0)), "
        f"array(__v[0], __v[1] - __v[0]), "
        f"(s, x) -> array({lp}, "
        f"{b}D * ({lp} - s[0]) + {1.0 - b}D * s[1]))"
    )
    out = per_series.filter(F.size("__v") >= 2).select(
        *[F.col(c) for c in series_cols],
        F.size("__v").cast("long").alias("n_buckets"),
        F.expr(fold).alias("__st"),
    )
    cols = [
        *[F.col(c) for c in series_cols],
        "n_buckets",
        F.round(F.expr("__st[0]"), 9).alias("level_r"),
        F.round(F.expr("__st[1]"), 9).alias("trend_r"),
    ]
    for h in horizons:
        cols.append(
            F.round(F.expr(f"__st[0] + {int(h)}D * __st[1]"), 9).alias(f"fc{h}_r")
        )
    return out.select(*cols)


def logrank_test(
    durations: DataFrame,
    group_col: str = "grp",
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """Two-group log-rank test (Mantel 1966) — does survival differ
    between cohorts? The hypothesis-test companion of
    :func:`kaplan_meier`, over the same right-censored ``(duration,
    event)`` observations plus a binary group indicator (1 = cohort of
    interest).

    At each distinct death time t: ``E1_t = d_t·n1_t/n_t`` and
    ``V_t = d_t·(n1_t/n_t)·(1−n1_t/n_t)·(n_t−d_t)/(n_t−1)`` from the
    at-risk counts; the released statistic is the chi-square form
    ``(O1−E1)²/V`` (1 df) — no square roots, every term a fixed IEEE
    expression over exact integer counts (terms summed with the x110
    plain-aggregate discipline, released at 6 dp).

    Output (single row): ``(n, n1, d, d1, o_minus_e_r, var_r, chi2_r)``;
    chi2 NULL when V = 0.

    Scale shape: ONE aggregation collapses observations to the
    per-distinct-time relation; at-risk counts are the kaplan_meier
    cumulative windows over that slim relation; the test statistic is
    one more aggregation of it.
    """
    from pyspark.sql import Window

    t = F.col(duration_col)
    ev = F.col(event_col).cast("int")
    g1 = F.col(group_col).cast("int")
    per_t = durations.groupBy(t.alias("t")).agg(
        F.sum(ev).alias("d"),
        F.sum(ev * g1).alias("d1"),
        F.count(F.lit(1)).alias("obs"),
        F.sum(g1).alias("obs1"),
    )
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    n_tot = F.sum("obs").over(Window.partitionBy())
    n1_tot = F.sum("obs1").over(Window.partitionBy())
    staged = per_t.withColumn(
        "n_risk", n_tot - F.coalesce(F.sum("obs").over(w_prev), F.lit(0))
    ).withColumn(
        "n1_risk", n1_tot - F.coalesce(F.sum("obs1").over(w_prev), F.lit(0))
    )
    nd = F.col("n_risk").cast("double")
    n1d = F.col("n1_risk").cast("double")
    dd = F.col("d").cast("double")
    p1 = n1d / nd
    terms = staged.filter(F.col("d") > 0).select(
        "d",
        "d1",
        (dd * p1).alias("__e1"),
        F.when(
            F.col("n_risk") > 1,
            dd * p1 * (F.lit(1.0) - p1) * (nd - dd) / (nd - F.lit(1.0)),
        )
        .otherwise(F.lit(0.0))
        .alias("__v"),
    )
    tot = durations.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(g1).cast("long").alias("n1"),
    )
    agg = terms.agg(
        F.sum("d").cast("long").alias("d"),
        F.sum("d1").cast("long").alias("d1"),
        F.sum(F.col("d1").cast("double") - F.col("__e1")).alias("__ome"),
        F.sum("__v").alias("__var"),
    )
    return tot.join(F.broadcast(agg)).select(
        "n",
        "n1",
        "d",
        "d1",
        F.round(F.col("__ome"), 6).alias("o_minus_e_r"),
        F.round(F.col("__var"), 6).alias("var_r"),
        F.round(
            F.when(
                F.col("__var") > 0,
                F.col("__ome") * F.col("__ome") / F.col("__var"),
            ),
            6,
        ).alias("chi2_r"),
    )


def brown_forsythe(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """Brown–Forsythe test (1974) — do the metric's SPREADS differ
    across groups? The robust (median-centered) Levene variant: one-way
    ANOVA F on ``z = |x − median_g|``. The scale-homogeneity check run
    before trusting :func:`anova_oneway`'s equal-variance assumption.

    Per-group exact medians (type-7 interpolation — the x22 contract,
    bit-matching DuckDB ``quantile_cont``) join back map-side
    (broadcast, groups are few), then the F statistic derives from
    per-group ``(n, Σz, Σz²)`` — the x110 sufficient-statistics shape,
    released at 6 dp.

    Output (single row): ``(n, k, f_r)``; F NULL when k < 2 or the
    within-group sum of squares is 0.
    """
    med = df.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("__med")
    )
    z = F.abs(F.col(value_col).cast("double") - F.col("__med"))
    g = (
        df.join(F.broadcast(med), on=group_col)
        .select(F.col(group_col), z.alias("__z"))
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("__z").alias("__s"),
            F.sum(F.col("__z") * F.col("__z")).alias("__ss"),
        )
    )
    tot = g.agg(
        F.sum("__n").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum("__s").alias("__ts"),
        F.sum("__ss").alias("__tss"),
        F.sum(F.col("__ss") - F.col("__s") * F.col("__s") / F.col("__n")).alias(
            "__ssw"
        ),
    )
    grand_mean = F.col("__ts") / F.col("n")
    sst = F.col("__tss") - F.col("n") * grand_mean * grand_mean
    ssb = sst - F.col("__ssw")
    # gate on the ROUNDED SSW: on an all-constant metric the raw SSW is
    # catastrophic-cancellation noise (~±1e-10) whose sign/bits differ
    # by engine summation order, so `raw > 0` made F engine-dependent
    # garbage; at 6 dp both engines see 0 and release NULL (fuzz, r10)
    f_stat = F.when(
        (F.col("k") >= 2) & (F.round(F.col("__ssw"), 6) > 0),
        (ssb / (F.col("k") - 1)) / (F.col("__ssw") / (F.col("n") - F.col("k"))),
    )
    return tot.select(
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k"),
        F.round(f_stat, 6).alias("f_r"),
    )


def seasonal_decompose_dow(
    events: DataFrame, ts_col: str = "ts"
) -> DataFrame:
    """Classical additive seasonal decomposition of the daily event
    count with weekly seasonality: ``x = trend + seasonal + residual``
    — the moving-average decomposition (the deterministic core of STL)
    a metrics owner runs before anomaly thresholds, so a Sunday dip
    isn't paged as an incident.

    Trend = centered 7-day moving average (only days with a FULL
    window release — the standard edge convention); day-of-week effect
    = mean of the detrended series per dow. Exactness: the 7-day sum
    and the detrended value SCALED BY 7 (``7x − Σ7``) are exact int64,
    so the per-dow mean is one IEEE division of exact integers —
    nothing float crosses an aggregation. dow is epoch-day mod 7
    (0 = Thursday), identical in any engine.

    Output per full-window day: ``(day, x, dow, trend_r, seasonal_r,
    residual_r)`` (9 dp).

    Scale shape: one (day) count shuffle collapses the fact table to
    the calendar; every window/aggregate after that runs on calendar-
    sized relations (single-partition window over the period relation —
    the x79/x142 slim-spine shape).
    """
    from pyspark.sql import Window

    daily = events.groupBy(
        F.date_trunc("day", F.col(ts_col)).alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    full = (
        daily.withColumn("__s7", F.sum("x").over(w7))
        .withColumn("__c7", F.count("x").over(w7))
        .filter(F.col("__c7") == 7)
        .withColumn(
            "dow",
            F.pmod(F.datediff(F.col("day"), F.lit("1970-01-01")), F.lit(7)).cast(
                "int"
            ),
        )
        .withColumn("__det7", 7 * F.col("x") - F.col("__s7"))
    )
    per_dow = full.groupBy("dow").agg(
        F.sum("__det7").cast("long").alias("__sd"),
        F.count(F.lit(1)).cast("long").alias("__cd"),
    )
    seasonal = F.col("__sd").cast("double") / (
        F.lit(7.0) * F.col("__cd").cast("double")
    )
    trend = F.col("__s7").cast("double") / F.lit(7.0)
    return (
        full.join(F.broadcast(per_dow), on="dow")
        .select(
            "day",
            "x",
            "dow",
            F.round(trend, 9).alias("trend_r"),
            F.round(seasonal, 9).alias("seasonal_r"),
            F.round(
                F.col("x").cast("double") - trend - seasonal, 9
            ).alias("residual_r"),
        )
    )


def cramers_v(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Cramér's V — the [0,1]-normalized effect size of
    :func:`chi_squared`: ``V = sqrt(X² / (n · min(r−1, c−1)))``, the
    number an analyst can compare ACROSS tables (raw X² scales with n
    and table shape). Uses the same telescoped full-grid algebra as
    x71 (``X² = N·Σ c²/(c_a·c_b) − N`` — zero cells never materialize),
    plus the two marginal cardinalities. Sqrt is a single IEEE op on
    both engines (the x80 precedent).

    Output (single row): ``(n, r, c, chi2_r, v_r)`` (6 dp); V NULL for
    degenerate 1×k tables.
    """
    from pyspark.sql import Window

    joint = (
        # listwise NULL deletion: a NULL category is missing data, not a
        # level — and SQL COUNT(DISTINCT)/equi-join semantics drop it,
        # so keeping it made the release engine-dependent (fuzz, r10)
        df.filter(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
        .groupBy(F.col(a_col).alias("__a"), F.col(b_col).alias("__b"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    wa, wb, wall = Window.partitionBy("__a"), Window.partitionBy("__b"), Window.partitionBy()
    cells = (
        joint.withColumn("__ca", F.sum("__c").over(wa))
        .withColumn("__cb", F.sum("__c").over(wb))
        .withColumn("__n", F.sum("__c").over(wall))
        .withColumn("__ma", F.row_number().over(wa.orderBy("__b")) == 1)
        .withColumn("__mb", F.row_number().over(wb.orderBy("__a")) == 1)
    )
    term = (F.col("__c") * F.col("__c")).cast("double") / (
        F.col("__ca") * F.col("__cb")
    ).cast("double")
    agg = cells.agg(
        F.max("__n").cast("long").alias("n"),
        F.sum(F.when(F.col("__ma"), 1).otherwise(0)).cast("long").alias("r"),
        F.sum(F.when(F.col("__mb"), 1).otherwise(0)).cast("long").alias("c"),
        F.sum(term).alias("__t"),
    )
    chi2 = F.col("n").cast("double") * F.col("__t") - F.col("n").cast("double")
    mindof = F.least(F.col("r") - 1, F.col("c") - 1)
    return agg.select(
        "n",
        "r",
        "c",
        F.round(chi2, 6).alias("chi2_r"),
        F.round(
            F.when(
                mindof >= 1,
                F.sqrt(chi2 / (F.col("n").cast("double") * mindof.cast("double"))),
            ),
            6,
        ).alias("v_r"),
    )


def cochran_armitage(
    df: DataFrame,
    score_col: str,
    flag_col: str,
) -> DataFrame:
    """Cochran–Armitage trend test: is a binary outcome's rate
    MONOTONICALLY associated with an ordered (integer-scored) grouping?
    The dose-response test — one step sharper than x71's unordered
    chi-squared when the grouping has a natural order (hour of day,
    bin index, exposure level).

    ``T = Σ_i s_i (r_i − n_i·p̄)`` and
    ``Var = p̄(1−p̄)(Σ n_i s_i² − (Σ n_i s_i)²/N)``; the release is the
    chi-square form ``T²/Var`` (1 df). Every sum is an exact int64
    moment of the per-group count relation (``s`` integer); the handful
    of final divisions are fixed IEEE expressions (6 dp).

    Output (single row): ``(n, n_pos, k, t_r, var_r, chi2_r)``; chi2
    NULL when Var = 0 (all scores equal or p̄ degenerate).
    """
    per = df.groupBy(F.col(score_col).cast("long").alias("__s")).agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(F.col(flag_col).cast("int")).cast("long").alias("__r"),
    )
    agg = per.agg(
        F.sum("__n").cast("long").alias("n"),
        F.sum("__r").cast("long").alias("n_pos"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(F.col("__s") * F.col("__r")).cast("long").alias("__sr"),
        F.sum(F.col("__s") * F.col("__n")).cast("long").alias("__sn"),
        F.sum(F.col("__s") * F.col("__s") * F.col("__n")).cast("long").alias("__ssn"),
    )
    nd = F.col("n").cast("double")
    pbar = F.col("n_pos").cast("double") / nd
    t_stat = F.col("__sr").cast("double") - F.col("__sn").cast("double") * pbar
    var = (
        pbar
        * (F.lit(1.0) - pbar)
        * (
            F.col("__ssn").cast("double")
            - F.col("__sn").cast("double") * F.col("__sn").cast("double") / nd
        )
    )
    return agg.select(
        "n",
        "n_pos",
        "k",
        F.round(t_stat, 6).alias("t_r"),
        F.round(var, 6).alias("var_r"),
        F.round(F.when(var > 0, t_stat * t_stat / var), 6).alias("chi2_r"),
    )


def ipw_ate(
    df: DataFrame,
    treat_col: str,
    outcome_col: str,
    group_col: str,
    cents: bool = True,
) -> DataFrame:
    """Inverse-propensity-weighted average treatment effect with a
    stratified (exact-rate) propensity model — the observational-data
    counterpart of x74's randomized A/B difference (Rosenbaum & Rubin
    1983).

    With strata-exact propensities the Horvitz–Thompson sum TELESCOPES
    to the stratified estimator: ``ATE = Σ_g n_g (ȳ_t,g − ȳ_c,g) / n``
    — so instead of summing millions of reweighted doubles (whose
    reordering noise would swamp a 6-dp release), the engine aggregates
    EXACT integer cent sums per stratum (``cents=True``, the x111
    as-cents idiom; set False for already-integer outcomes) and the
    released value is a |strata|-term fold of fixed IEEE expressions.

    Strata violating positivity (treatment rate 0 or 1 — no
    counterfactual) are EXCLUDED; ``n_kept/n_total`` discloses it. The
    naive unadjusted difference rides along so the reader sees what the
    adjustment did.

    Output (single row): ``(n_total, n_kept, n_treated, ate_ipw_r,
    naive_diff_r)`` (6 dp).

    Scale shape: ONE grouped aggregation collapses the fact table to
    |strata| sufficient-statistic rows; everything after is
    constant-size math.
    """
    t = F.col(treat_col).cast("int")
    scale = 100.0 if cents else 1.0
    yc = (
        F.round(F.col(outcome_col).cast("double") * scale).cast("long")
        if cents
        else F.col(outcome_col).cast("long")
    )
    per = df.groupBy(F.col(group_col)).agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(t).cast("long").alias("__nt"),
        F.sum(t * yc).cast("long").alias("__syt"),
        F.sum((F.lit(1) - t) * yc).cast("long").alias("__syc"),
    )
    kept = per.filter((F.col("__nt") > 0) & (F.col("__nt") < F.col("__n")))
    ybar_t = F.col("__syt").cast("double") / (
        F.col("__nt").cast("double") * F.lit(scale)
    )
    ybar_c = F.col("__syc").cast("double") / (
        (F.col("__n") - F.col("__nt")).cast("double") * F.lit(scale)
    )
    terms = kept.select(
        "__n",
        "__nt",
        "__syt",
        "__syc",
        (F.col("__n").cast("double") * (ybar_t - ybar_c)).alias("__term"),
    )
    agg = terms.agg(
        F.sum("__n").cast("long").alias("n_kept"),
        F.sum("__nt").cast("long").alias("n_treated"),
        F.sum(F.col("__n") - F.col("__nt")).cast("long").alias("__ncont"),
        F.sum("__syt").cast("long").alias("__tsyt"),
        F.sum("__syc").cast("long").alias("__tsyc"),
        F.expr(
            "aggregate(array_sort(collect_list(__term)), CAST(0.0 AS DOUBLE), "
            "(a, x) -> a + x)"
        ).alias("__ate_sum"),
    )
    tot = df.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    return tot.join(F.broadcast(agg)).select(
        "n_total",
        "n_kept",
        "n_treated",
        F.round(F.col("__ate_sum") / F.col("n_kept").cast("double"), 6).alias(
            "ate_ipw_r"
        ),
        F.round(
            F.col("__tsyt").cast("double")
            / (F.col("n_treated").cast("double") * F.lit(scale))
            - F.col("__tsyc").cast("double")
            / (F.col("__ncont").cast("double") * F.lit(scale)),
            6,
        ).alias("naive_diff_r"),
    )


def item_cf_topk(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    k: int = 5,
    min_pair: int = 2,
) -> DataFrame:
    """Item-item collaborative-filtering neighbors: cosine similarity on
    basket co-occurrence counts — the classic "customers who bought X
    also bought Y" recommender (Sarwar et al. WWW 2001; Amazon's
    item-to-item CF). The normalized refinement of
    :func:`copurchase_lift`: ``cos(i,j) = c_ij / sqrt(c_i · c_j)`` over
    exact int64 basket counts (one sqrt per released pair — the x80
    precedent).

    Output: top-``k`` neighbors per item by ``(cosine_r DESC, other)``
    — ``(item, other, c_pair, c_item, c_other, cosine_r)`` (6 dp),
    pairs below ``min_pair`` co-occurrences pruned.

    Scale shape: distinct (basket, item) → the a<b self-join within
    baskets (bounded by basket size², the x102/x138 shape) → ONE pair
    count shuffle; item marginals re-aggregate the distinct relation;
    per-item top-k is a rank window cut map-side (WindowGroupLimit).
    """
    from pyspark.sql import Window

    items = baskets.select(
        F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
    ).distinct()
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.__b") == F.col("b.__b")) & (F.col("a.__i") < F.col("b.__i")),
        )
        .groupBy(F.col("a.__i").alias("x"), F.col("b.__i").alias("y"))
        .agg(F.count(F.lit(1)).cast("long").alias("c_pair"))
        .filter(F.col("c_pair") >= int(min_pair))
    )
    marg = items.groupBy(F.col("__i").alias("item")).agg(
        F.count(F.lit(1)).cast("long").alias("c_item")
    )
    both = pairs.select(
        F.col("x").alias("item"), F.col("y").alias("other"), "c_pair"
    ).unionByName(
        pairs.select(F.col("y").alias("item"), F.col("x").alias("other"), "c_pair")
    )
    scored = (
        both.join(marg, on="item")
        .join(
            marg.select(
                F.col("item").alias("other"), F.col("c_item").alias("c_other")
            ),
            on="other",
        )
        .select(
            "item",
            "other",
            "c_pair",
            "c_item",
            "c_other",
            F.round(
                F.col("c_pair").cast("double")
                / F.sqrt(F.col("c_item").cast("double") * F.col("c_other").cast("double")),
                6,
            ).alias("cosine_r"),
        )
    )
    w = Window.partitionBy("item").orderBy(F.desc("cosine_r"), F.col("other"))
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= int(k))
        .drop("__rk")
    )


def odds_ratio_2x2(
    df: DataFrame, expose_col: str, outcome_col: str
) -> DataFrame:
    """2×2 odds ratio with Haldane–Anscombe correction and the Woolf
    95% CI — the case-control association readout (the effect-size
    companion of x71/x204 for the binary-binary case; Bland & Altman
    2000 for the CI formula).

    Cells ``a`` (exposed+outcome), ``b`` (exposed only), ``c`` (outcome
    only), ``d`` (neither) are exact int64; if ANY cell is zero, 0.5 is
    added to ALL (the standard correction, disclosed via
    ``corrected``). ``OR = ad/bc``; ``SE = sqrt(1/a+1/b+1/c+1/d)``;
    CI = exp(ln OR ± 1.96·SE). ln/exp/sqrt are fixed IEEE expressions
    (6 dp, the x79/x80 contract).

    Output (single row): ``(a, b, c, d, corrected, or_r, log_or_r,
    ci_lo_r, ci_hi_r)``.
    """
    e = F.col(expose_col).cast("boolean")
    o = F.col(outcome_col).cast("boolean")
    agg = df.agg(
        # COALESCE: an empty cohort is the all-zero table (corrected
        # Haldane release), not a NULL-boolean row whose pandas/Arrow
        # rendering differs by engine (fuzz-oracle finding, r10)
        F.coalesce(F.sum((e & o).cast("int")), F.lit(0)).cast("long").alias("a"),
        F.coalesce(F.sum((e & ~o).cast("int")), F.lit(0)).cast("long").alias("b"),
        F.coalesce(F.sum((~e & o).cast("int")), F.lit(0)).cast("long").alias("c"),
        F.coalesce(F.sum((~e & ~o).cast("int")), F.lit(0)).cast("long").alias("d"),
    )
    corrected = (
        (F.col("a") == 0) | (F.col("b") == 0) | (F.col("c") == 0) | (F.col("d") == 0)
    )
    half = F.when(corrected, F.lit(0.5)).otherwise(F.lit(0.0))
    ad = F.col("a").cast("double") + half
    bd = F.col("b").cast("double") + half
    cd = F.col("c").cast("double") + half
    dd = F.col("d").cast("double") + half
    orr = ad * dd / (bd * cd)
    se = F.sqrt(1.0 / ad + 1.0 / bd + 1.0 / cd + 1.0 / dd)
    return agg.select(
        "a",
        "b",
        "c",
        "d",
        corrected.alias("corrected"),
        F.round(orr, 6).alias("or_r"),
        F.round(F.log(orr), 6).alias("log_or_r"),
        F.round(F.exp(F.log(orr) - F.lit(1.96) * se), 6).alias("ci_lo_r"),
        F.round(F.exp(F.log(orr) + F.lit(1.96) * se), 6).alias("ci_hi_r"),
    )


def mcnemar_test(
    df: DataFrame, correct_a_col: str, correct_b_col: str
) -> DataFrame:
    """McNemar's test on PAIRED binary predictors: do two classifiers
    disagree asymmetrically on the same examples? The standard
    model-comparison test when both run on one eval set (Dietterich
    1998) — an unpaired x74 z-test would waste the pairing.

    Only the discordant cells matter: ``b`` (A right, B wrong) vs ``c``
    (A wrong, B right); ``chi2 = (b−c)²/(b+c)`` with the
    continuity-corrected ``(|b−c|−1)²/(b+c)`` alongside — exact int64
    counts, one division each (6 dp; NULL when b+c = 0).

    Output (single row): ``(n, n_both, b, c, chi2_r, chi2_cc_r)``.
    """
    ca = F.col(correct_a_col).cast("boolean")
    cb = F.col(correct_b_col).cast("boolean")
    agg = df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((ca & cb).cast("int")).cast("long").alias("n_both"),
        F.sum((ca & ~cb).cast("int")).cast("long").alias("b"),
        F.sum((~ca & cb).cast("int")).cast("long").alias("c"),
    )
    bd = F.col("b").cast("double")
    cd = F.col("c").cast("double")
    denom = bd + cd
    return agg.select(
        "n",
        "n_both",
        "b",
        "c",
        F.round(
            F.when(denom > 0, (bd - cd) * (bd - cd) / denom), 6
        ).alias("chi2_r"),
        F.round(
            F.when(
                denom > 0,
                (F.abs(bd - cd) - 1.0) * (F.abs(bd - cd) - 1.0) / denom,
            ),
            6,
        ).alias("chi2_cc_r"),
    )


def rmst(
    durations: DataFrame,
    tau: float,
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """Restricted mean survival time: the area under the Kaplan–Meier
    curve up to horizon ``tau`` — "average event-free time in the first
    τ seconds", the model-free effect measure survival analysts report
    when hazards aren't proportional (Royston & Parmar 2013). Companion
    of :func:`kaplan_meier` (same per-distinct-time relation) and the
    natural KPI on x79's time-to-conversion data.

    The KM step function is integrated segment-wise:
    ``Σ S(t_i)·(min(t_{i+1}, τ) − t_i)`` over death times below τ, plus
    the leading [0, t_1) segment at S = 1. Survival values come from the
    same zero-aware log-sum construction as x79 (identical windows both
    engines); the segment sum runs over the slim per-time relation.

    Output (single row): ``(tau_r, n, n_events_used, rmst_r)`` (6 dp).
    """
    from pyspark.sql import Window

    t = F.col(duration_col)
    ev = F.col(event_col).cast("int")
    per_t = durations.groupBy(t.cast("double").alias("t")).agg(
        F.sum(ev).alias("d"),
        F.count(F.lit(1)).alias("obs"),
    )
    w_ord = Window.orderBy("t")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    w_prev = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    total = F.sum("obs").over(Window.partitionBy())
    staged = (
        per_t.withColumn(
            "n_risk", total - F.coalesce(F.sum("obs").over(w_prev), F.lit(0))
        )
        .withColumn(
            "__f",
            F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk").cast("double"),
        )
        .withColumn(
            "__dead", F.max(F.when(F.col("__f") == 0.0, 1).otherwise(0)).over(w_cum)
        )
        .withColumn(
            "__logsum",
            F.sum(
                F.when(F.col("__f") > 0.0, F.log("__f")).otherwise(0.0)
            ).over(w_cum),
        )
    )
    km = staged.filter(F.col("d") > 0).select(
        "t",
        F.when(F.col("__dead") == 1, F.lit(0.0))
        .otherwise(F.exp("__logsum"))
        .alias("s"),
    )
    w2 = Window.orderBy("t")
    seg = km.select(
        "t",
        "s",
        F.lag("t").over(w2).alias("t_prev"),
        F.lag("s").over(w2).alias("s_prev"),
    )
    tau_l = F.lit(float(tau))
    # segment ENDING at this death time: survival before it applies
    contrib = F.when(
        F.coalesce(F.col("t_prev"), F.lit(0.0)) < tau_l,
        F.coalesce(F.col("s_prev"), F.lit(1.0))
        * (F.least(F.col("t"), tau_l) - F.coalesce(F.col("t_prev"), F.lit(0.0))),
    ).otherwise(F.lit(0.0))
    # tail after the LAST death time, at its post-drop survival; the
    # max-of-struct aggregate always yields ONE row (NULL struct when
    # the cohort has no deaths at all), so an all-censored input
    # releases rmst = tau instead of collapsing to zero rows
    tail_contrib = km.agg(
        F.max(F.struct("t", "s")).alias("__m")
    ).select(
        F.when(F.col("__m").isNull(), tau_l)
        .when(
            F.col("__m.t") < tau_l, F.col("__m.s") * (tau_l - F.col("__m.t"))
        )
        .otherwise(F.lit(0.0))
        .alias("__tail")
    )
    main = seg.agg(
        F.coalesce(F.sum(contrib), F.lit(0.0)).alias("__area"),
        F.count(F.lit(1)).cast("long").alias("n_events_used"),
    )
    tot = durations.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        tot.join(F.broadcast(main))
        .join(F.broadcast(tail_contrib))
        .select(
            F.round(tau_l, 6).alias("tau_r"),
            "n",
            "n_events_used",
            F.round(F.col("__area") + F.col("__tail"), 6).alias("rmst_r"),
        )
    )


def wilson_ci_rates(
    df: DataFrame, group_col: str, flag_col: str, z: float = 1.96
) -> DataFrame:
    """Per-group proportion with the Wilson score interval — the
    recommended small-sample / extreme-rate CI (Brown, Cai & DasGupta
    2001; the Wald interval collapses at p near 0/1), the error bars a
    rate dashboard should carry.

    ``center = (p + z²/2n) / (1 + z²/n)``,
    ``half = z·sqrt(p(1−p)/n + z²/4n²) / (1 + z²/n)`` — exact int64
    counts, fixed IEEE expressions, one sqrt (6 dp).

    Output per group: ``(group, n, n_pos, rate_r, ci_lo_r, ci_hi_r)``.
    One grouped aggregation; constant math after.
    """
    zf = float(z)
    per = df.groupBy(F.col(group_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col(flag_col).cast("int")).cast("long").alias("n_pos"),
    )
    nd = F.col("n").cast("double")
    p = F.col("n_pos").cast("double") / nd
    z2 = F.lit(zf * zf)
    denom = F.lit(1.0) + z2 / nd
    center = (p + z2 / (F.lit(2.0) * nd)) / denom
    half = (
        F.lit(zf)
        * F.sqrt(p * (F.lit(1.0) - p) / nd + z2 / (F.lit(4.0) * nd * nd))
        / denom
    )
    return per.select(
        F.col(group_col),
        "n",
        "n_pos",
        F.round(p, 6).alias("rate_r"),
        F.round(center - half, 6).alias("ci_lo_r"),
        F.round(center + half, 6).alias("ci_hi_r"),
    )


def mantel_haenszel_or(
    df: DataFrame, stratum_col: str, expose_col: str, outcome_col: str
) -> DataFrame:
    """Mantel–Haenszel pooled odds ratio across strata — the
    confounder-adjusted 2×2 effect (Mantel & Haenszel 1959), the
    meta-analytic companion of :func:`odds_ratio_2x2` and the classic
    Simpson's-paradox guard: the crude OR rides along so the reader
    sees what stratification changed.

    ``OR_MH = Σ_i (a_i·d_i/n_i) / Σ_i (b_i·c_i/n_i)`` — per-stratum
    exact int64 cells; the two sums run over the |strata|-sized relation
    (sorted in-row fold, deterministic). 6 dp.

    Output (single row): ``(k_strata, or_mh_r, or_crude_r)``; NULL MH
    when the denominator is 0.
    """
    e = F.col(expose_col).cast("boolean")
    o = F.col(outcome_col).cast("boolean")
    per = df.groupBy(F.col(stratum_col)).agg(
        F.sum((e & o).cast("int")).cast("long").alias("a"),
        F.sum((e & ~o).cast("int")).cast("long").alias("b"),
        F.sum((~e & o).cast("int")).cast("long").alias("c"),
        F.sum((~e & ~o).cast("int")).cast("long").alias("d"),
    )
    nd = (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast("double")
    terms = per.select(
        "a",
        "b",
        "c",
        "d",
        (F.col("a").cast("double") * F.col("d").cast("double") / nd).alias("__num"),
        (F.col("b").cast("double") * F.col("c").cast("double") / nd).alias("__den"),
    )
    agg = terms.agg(
        F.count(F.lit(1)).cast("long").alias("k_strata"),
        F.sum("a").cast("long").alias("__ta"),
        F.sum("b").cast("long").alias("__tb"),
        F.sum("c").cast("long").alias("__tc"),
        F.sum("d").cast("long").alias("__td"),
        F.expr(
            "aggregate(array_sort(collect_list(__num)), CAST(0.0 AS DOUBLE),"
            " (x, y) -> x + y)"
        ).alias("__n"),
        F.expr(
            "aggregate(array_sort(collect_list(__den)), CAST(0.0 AS DOUBLE),"
            " (x, y) -> x + y)"
        ).alias("__d"),
    )
    crude = (
        F.col("__ta").cast("double") * F.col("__td").cast("double")
    ) / (F.col("__tb").cast("double") * F.col("__tc").cast("double"))
    return agg.select(
        "k_strata",
        F.round(F.when(F.col("__d") > 0, F.col("__n") / F.col("__d")), 6).alias(
            "or_mh_r"
        ),
        F.round(
            F.when((F.col("__tb") > 0) & (F.col("__tc") > 0), crude), 6
        ).alias("or_crude_r"),
    )


def theil_sen_slope(
    events: DataFrame, ts_col: str = "ts"
) -> DataFrame:
    """Theil–Sen robust trend of the daily event count: the MEDIAN of
    all pairwise slopes — up to 29% contamination tolerance where OLS
    breaks on one outlier day; the magnitude companion of x143's
    Mann-Kendall direction test (Sen 1968).

    Slopes are fixed IEEE divisions over exact integer (count, epoch-
    day) pairs; the median is exact type-7 interpolation (the x22
    contract). The intercept is the median of ``x_i − slope·t_i`` at
    the released slope.

    Output (single row): ``(n_days, n_pairs, slope_r, intercept_r)``
    (6 dp).

    Scale shape: one (day) count shuffle collapses the fact table to
    the calendar; the pair join is calendar² — days(days−1)/2 rows, a
    constant-sized relation at ANY corpus scale (~66k pairs for a year).
    """
    daily = events.groupBy(
        F.datediff(F.date_trunc("day", F.col(ts_col)), F.lit("1970-01-01"))
        .cast("long")
        .alias("t")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    a, b = daily.alias("a"), daily.alias("b")
    slopes = a.join(b, F.col("a.t") < F.col("b.t")).select(
        (
            (F.col("b.x") - F.col("a.x")).cast("double")
            / (F.col("b.t") - F.col("a.t")).cast("double")
        ).alias("__s")
    )
    sl = slopes.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.expr("percentile(__s, 0.5)").alias("__slope"),
    )
    resid = daily.join(F.broadcast(sl)).select(
        "n_pairs",
        "__slope",
        (F.col("x").cast("double") - F.col("__slope") * F.col("t").cast("double")).alias(
            "__r"
        ),
    )
    return resid.groupBy("n_pairs", "__slope").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.expr("percentile(__r, 0.5)").alias("__icpt"),
    ).select(
        "n_days",
        "n_pairs",
        F.round(F.col("__slope"), 6).alias("slope_r"),
        F.round(F.col("__icpt"), 6).alias("intercept_r"),
    )


def qini_curve(
    events: DataFrame,
    treat_event: str = "click",
    convert_event: str = "purchase",
    score_event: str = "view",
    user_col: str = "user_id",
    value_col: str = "value",
    n_bins: int = 10,
) -> DataFrame:
    """Qini curve — the uplift-model evaluation readout (Radcliffe 2007):
    rank users by a targeting score, and at each decile compare
    CUMULATIVE conversions among treated users against the
    control-scaled counterfactual ``conv_c · (n_t/n_c)``. The uplift
    cousin of :func:`decile_lift` (which evaluates response, not
    incremental effect).

    Treated = user has a ``treat_event``; converted = has a
    ``convert_event``; score = summed ``value`` over ``score_event``
    rows (0 default). Deciles are exact ``(score DESC, user)`` ntile
    cuts. Per decile row: cumulative treated/control counts and
    conversions, and ``qini_r = conv_t_cum − conv_c_cum·(n_t_cum/
    n_c_cum)`` — all exact int64 until the one scaling division (6 dp;
    NULL while no control user has been seen).

    Output: ``(decile, n_t_cum, n_c_cum, conv_t_cum, conv_c_cum,
    qini_r)``.

    Scale shape: one user-keyed aggregation collapses the fact table;
    the ntile + cumulative windows run on the per-user relation (slim;
    x127 offset-table idiom at extreme user counts — released output is
    decile-level).
    """
    from pyspark.sql import Window

    per_user = events.groupBy(F.col(user_col).alias("u")).agg(
        F.coalesce(
            F.sum(F.when(F.col("event_type") == score_event, F.col(value_col))),
            F.lit(0.0),
        ).alias("score"),
        F.max((F.col("event_type") == treat_event).cast("int")).alias("t"),
        F.max((F.col("event_type") == convert_event).cast("int")).alias("conv"),
    )
    w = Window.orderBy(F.desc("score"), F.col("u"))
    tiled = per_user.withColumn("decile", F.ntile(n_bins).over(w))
    per_dec = tiled.groupBy("decile").agg(
        F.sum("t").cast("long").alias("__nt"),
        F.sum(F.lit(1) - F.col("t")).cast("long").alias("__nc"),
        F.sum(F.col("t") * F.col("conv")).cast("long").alias("__ct"),
        F.sum((F.lit(1) - F.col("t")) * F.col("conv")).cast("long").alias("__cc"),
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_dec.select(
        F.col("decile").cast("int").alias("decile"),
        F.sum("__nt").over(wc).cast("long").alias("n_t_cum"),
        F.sum("__nc").over(wc).cast("long").alias("n_c_cum"),
        F.sum("__ct").over(wc).cast("long").alias("conv_t_cum"),
        F.sum("__cc").over(wc).cast("long").alias("conv_c_cum"),
    )
    qini = F.when(
        F.col("n_c_cum") > 0,
        F.col("conv_t_cum").cast("double")
        - F.col("conv_c_cum").cast("double")
        * (F.col("n_t_cum").cast("double") / F.col("n_c_cum").cast("double")),
    )
    return cum.select(
        "decile",
        "n_t_cum",
        "n_c_cum",
        "conv_t_cum",
        "conv_c_cum",
        F.round(qini, 6).alias("qini_r"),
    ).orderBy("decile")


def overdispersion_check(
    events: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Fisher dispersion index of daily counts per event type: is the
    arrival process Poisson-like (index ≈ 1) or bursty/overdispersed
    (index ≫ 1)? The one-line diagnosis run before trusting Poisson
    anomaly thresholds (x87) or Poisson A/B approximations — counts on
    real traffic are almost always overdispersed, and this quantifies
    how much.

    ``D = s² / x̄`` over the per-day counts, with the chi-square form
    ``(n−1)·D`` (df = n−1). Sufficient statistics are exact int64
    (Σx, Σx² over integer daily counts), so the release is a fixed IEEE
    expression (6 dp; NULL when fewer than 2 days or zero mean).

    Output per type: ``(event_type, n_days, mean_r, var_r,
    dispersion_r, chi2_r)``.

    Scale shape: one (type, day) count shuffle collapses the fact
    table to the calendar grid; one more aggregation to |types| rows.
    """
    daily = events.groupBy(
        F.col(type_col), F.date_trunc("day", F.col(ts_col)).alias("__d")
    ).agg(F.count(F.lit(1)).cast("long").alias("__x"))
    agg = daily.groupBy(type_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("__x").cast("long").alias("__s"),
        F.sum(F.col("__x") * F.col("__x")).cast("long").alias("__ss"),
    )
    nd = F.col("n_days").cast("double")
    mean = F.col("__s").cast("double") / nd
    var = (
        F.col("__ss").cast("double") - F.col("__s").cast("double") * mean
    ) / (nd - F.lit(1.0))
    disp = F.when((F.col("n_days") >= 2) & (F.col("__s") > 0), var / mean)
    return agg.select(
        F.col(type_col),
        "n_days",
        F.round(mean, 6).alias("mean_r"),
        F.round(F.when(F.col("n_days") >= 2, var), 6).alias("var_r"),
        F.round(disp, 6).alias("dispersion_r"),
        F.round((nd - F.lit(1.0)) * disp, 6).alias("chi2_r"),
    )


def friedman_test(
    events: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Friedman test (1937) — the repeated-measures, rank-based "do the
    k treatments differ?" over matched blocks: here, do the event TYPES
    consistently out-rank each other across DAYS? The nonparametric
    complement of x110 (one-way ANOVA assumes independent groups; daily
    type counts share each day's traffic level, which blocking absorbs).

    Counts are ranked WITHIN each complete block (days missing any type
    are excluded — the classic complete-block requirement, count
    disclosed); ties take the average rank (exact .5 fractions).
    ``Q = 12/(n·k·(k+1)) · Σ_j R_j² − 3·n·(k+1)`` — rank sums are exact
    2×-integers, so Q is a fixed IEEE expression (6 dp; chi-square with
    k−1 df, p-value left to the caller — the x71 policy).

    Output (single row): ``(n_blocks, k, q_r)``.

    Scale shape: one (day, type) count shuffle collapses the fact
    table to the calendar grid; ranks are windows over k-row
    partitions; one aggregation to k rank sums.
    """
    from pyspark.sql import Window

    daily = (
        # a NULL treatment label is missing data, not a k-th treatment —
        # and SQL COUNT(DISTINCT) would drop it anyway (fuzz, r10)
        events.filter(F.col(type_col).isNotNull())
        .groupBy(F.date_trunc("day", F.col(ts_col)).alias("__d"), F.col(type_col))
        .agg(F.count(F.lit(1)).cast("long").alias("__x"))
    )
    k_types = daily.select(type_col).distinct().count()
    complete = (
        daily.groupBy("__d")
        .agg(F.count(F.lit(1)).alias("__kt"))
        .filter(F.col("__kt") == k_types)
        .select("__d")
    )
    blocks = daily.join(F.broadcast(complete), on="__d")
    wr = Window.partitionBy("__d").orderBy("__x")
    wt = Window.partitionBy("__d", "__x")
    ranked = blocks.withColumn(
        "__rank2",  # 2x the average rank: stays exact integer under ties
        2 * F.rank().over(wr) + (F.count(F.lit(1)).over(wt) - 1),
    )
    sums = ranked.groupBy(type_col).agg(
        F.sum("__rank2").cast("long").alias("__r2"),
        F.count(F.lit(1)).cast("long").alias("__n"),
    )
    agg = sums.agg(
        F.max("__n").cast("long").alias("n_blocks"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(
            (F.col("__r2").cast("double") / F.lit(2.0))
            * (F.col("__r2").cast("double") / F.lit(2.0))
        ).alias("__sr2"),
    )
    nd = F.col("n_blocks").cast("double")
    kd = F.col("k").cast("double")
    q = (
        F.lit(12.0) / (nd * kd * (kd + F.lit(1.0))) * F.col("__sr2")
        - F.lit(3.0) * nd * (kd + F.lit(1.0))
    )
    return agg.select(
        "n_blocks",
        "k",
        F.round(F.when((F.col("n_blocks") > 0) & (F.col("k") >= 2), q), 6).alias(
            "q_r"
        ),
    )


def tost_equivalence(
    df: DataFrame,
    group_col: str,
    flag_col: str,
    margin: float = 0.02,
    z_crit: float = 1.6448536269514722,
    groups: "tuple | None" = None,
) -> DataFrame:
    """TOST equivalence test for two proportions (Schuirmann 1987) —
    the "no worse AND no better than ±margin" launch gate: a
    non-significant x74 difference is NOT evidence of equivalence, TOST
    is. Both one-sided z statistics are released; equivalence holds
    when BOTH exceed the critical value (default z at alpha = 0.05,
    embedded as one decimal literal so the verdict branches on
    identical doubles in any engine).

    ``z_lower = (diff + margin)/se``, ``z_upper = (margin − diff)/se``
    with the unpooled ``se = sqrt(p1(1−p1)/n1 + p2(1−p2)/n2)`` — exact
    int64 counts, fixed IEEE expressions (6 dp).

    Expects exactly TWO groups (ordered by group value: diff =
    rate(first) − rate(second)); raises otherwise.

    Output (single row): ``(g1, g2, n1, n2, rate1_r, rate2_r, diff_r,
    z_lower_r, z_upper_r, equivalent)``.
    """
    per = (
        df.groupBy(F.col(group_col).alias("__g"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("__n"),
            F.sum(F.col(flag_col).cast("int")).cast("long").alias("__p"),
        )
        .orderBy("__g")
        .collect()
    )
    if groups is not None:
        # nominal-cohort form (the SQL-pivot shape): release BOTH named
        # cohorts; one with no rows carries NULL stats and equivalent
        # stays false (fuzz-oracle finding, r10 — the twin pivots on
        # literal labels and must not diverge when a cohort is empty)
        if len(groups) != 2:
            raise ValueError("groups must name exactly 2 cohorts")
        by_g = {r["__g"]: r for r in per}
        g1, g2 = groups
        r1_, r2_ = by_g.get(g1), by_g.get(g2)
        rows = [
            (
                str(g1),
                str(g2),
                None if r1_ is None else r1_["__n"],
                None if r2_ is None else r2_["__n"],
                None if r1_ is None else r1_["__p"],
                None if r2_ is None else r2_["__p"],
            )
        ]
    elif len(per) != 2:
        raise ValueError(f"tost_equivalence expects exactly 2 groups, got {len(per)}")
    else:
        rows = [
            (
                str(per[0]["__g"]),
                str(per[1]["__g"]),
                per[0]["__n"],
                per[1]["__n"],
                per[0]["__p"],
                per[1]["__p"],
            )
        ]
    spark = df.sparkSession
    base = spark.createDataFrame(
        rows,
        "g1 STRING, g2 STRING, n1 LONG, n2 LONG, p1 LONG, p2 LONG",
    )
    r1 = F.col("p1").cast("double") / F.col("n1").cast("double")
    r2 = F.col("p2").cast("double") / F.col("n2").cast("double")
    diff = r1 - r2
    se = F.sqrt(
        r1 * (F.lit(1.0) - r1) / F.col("n1").cast("double")
        + r2 * (F.lit(1.0) - r2) / F.col("n2").cast("double")
    )
    m = F.lit(float(margin))
    # degenerate rates (both cohorts at exactly 0 or 1) zero the SE:
    # the test is then undefined — NULL z's, equivalent false (never
    # claim equivalence on a vacuous denominator)
    zl = F.when(se > 0, (diff + m) / se)
    zu = F.when(se > 0, (m - diff) / se)
    return base.select(
        "g1",
        "g2",
        "n1",
        "n2",
        F.round(r1, 6).alias("rate1_r"),
        F.round(r2, 6).alias("rate2_r"),
        F.round(diff, 6).alias("diff_r"),
        F.round(zl, 6).alias("z_lower_r"),
        F.round(zu, 6).alias("z_upper_r"),
        F.coalesce(
            (zl >= F.lit(float(z_crit))) & (zu >= F.lit(float(z_crit))),
            F.lit(False),
        ).alias("equivalent"),
    )


def kendall_tau_b(
    df: DataFrame,
    x_col: str,
    y_col: str,
    max_distinct: int = 4096,
) -> DataFrame:
    """X225 — Kendall's tau-b rank correlation (Kendall 1938; tau-b tie
    correction per Kendall 1945): the pair-concordance complement of
    x109 Spearman. Spearman answers "is the monotone trend strong?";
    tau answers "what fraction of pairs agree in order?" — the number
    quality teams quote when comparing two document scorers or two
    ranking models, and the more robust statistic under heavy ties
    (exactly the regime of small count-valued features).

    ``tau_b = (C - D) / sqrt((n0 - t_x) * (n0 - t_y))`` with
    ``n0 = n(n-1)/2``, C/D the concordant/discordant pair counts and
    ``t_x = Σ c_x(c_x-1)/2`` the tied-pair counts per marginal.

    Output (single row):
    ``(n, concordant, discordant, ties_x, ties_y, tau_b_r)`` (9 dp;
    NULL when either marginal is constant — tau undefined).

    Cross-engine exactness: every pair count is exact int64 arithmetic
    on the CONTINGENCY GRID, so the only float op is the final
    (C-D)/sqrt(..) division — one identical IEEE expression per engine.

    Scale shape (100 TB): one (x, y) aggregation collapses the fact
    table to the joint grid; the pair counting is a broadcast non-equi
    self-join of the GRID against itself — |grid|² cell pairs, never
    row pairs. Built for small discrete domains (counts, ratings,
    bins); with ~1e4 distinct cells the join is 1e8 cheap comparisons.
    GUARDED: if either marginal exceeds ``max_distinct`` distinct
    values (default 4096 — the ~1.7e7-cell-pair ceiling), the call
    raises with a pointer to the x12 equal-frequency binner instead of
    silently going |grid|²-quadratic on a continuous column (round-8
    verdict task 4). The check rides the persisted grid, so it costs
    one metadata-sized aggregation, not a second fact-table scan.
    Int64 bounds: ``n0 = n(n-1)/2`` is computed EXACTLY in int64 via
    the even-factor split (``(n div 2)(n-1)`` or ``n((n-1) div 2)``),
    and ``n0 - ties`` stays int64 — exact below n ≈ 4.3e9 rows. The
    final denominator casts each difference to double before the
    multiply (their int64 product would overflow); that cast rounds
    above ~9e15 pairs but is the identical IEEE operation on both
    engines, so cross-engine parity holds at any n (round-8 advisory:
    the old all-double n0 lost integer exactness past n ≈ 1.3e8).
    """
    from dbms_data_anonymity_differential_privacy_spark.operators.util import track_cached

    # the grid feeds FIVE consumers (n, tie marginals ×2, both join
    # sides); persist so the fact-table aggregation runs once, ledger-
    # tracked because the consuming action is the CALLER's (an
    # unpersist here would fire before the plan ever materializes)
    g = track_cached(
        df.groupBy(F.col(x_col).alias("__x"), F.col(y_col).alias("__y"))
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        .persist()
    )
    # quadratic guard: the |grid|² self-join below is only sane on small
    # discrete domains — refuse continuous inputs rather than blow up
    card = g.agg(
        F.countDistinct("__x").alias("__dx"), F.countDistinct("__y").alias("__dy")
    ).first()
    if card["__dx"] > max_distinct or card["__dy"] > max_distinct:
        raise ValueError(
            f"kendall_tau_b: marginal cardinality ({card['__dx']} x, "
            f"{card['__dy']} y) exceeds max_distinct={max_distinct}; the "
            "grid self-join would be quadratic in distinct values. Bin "
            "continuous columns first (equal_frequency_bin / x12 family) "
            "or raise max_distinct explicitly."
        )
    tot = g.agg(
        F.sum("__c").cast("long").alias("n"),
        # tied-in-BOTH pairs, needed by neither marginal term — but the
        # within-cell pairs are tied in x AND y, so they enter t_x and
        # t_y via the marginals below; nothing to do here
    )
    tx = (
        g.groupBy("__x")
        .agg(F.sum("__c").cast("long").alias("__cx"))
        .agg(
            F.expr("CAST(SUM((__cx * (__cx - 1)) div 2) AS BIGINT)").alias("ties_x")
        )
    )
    ty = (
        g.groupBy("__y")
        .agg(F.sum("__c").cast("long").alias("__cy"))
        .agg(
            F.expr("CAST(SUM((__cy * (__cy - 1)) div 2) AS BIGINT)").alias("ties_y")
        )
    )
    a = g.select(
        F.col("__x").alias("__xa"), F.col("__y").alias("__ya"), F.col("__c").alias("__ca")
    )
    b = g.select(
        F.col("__x").alias("__xb"), F.col("__y").alias("__yb"), F.col("__c").alias("__cb")
    )
    cd = (
        a.join(F.broadcast(b), F.col("__xa") < F.col("__xb"))
        .agg(
            F.sum(
                F.when(F.col("__ya") < F.col("__yb"), F.col("__ca") * F.col("__cb")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("concordant"),
            F.sum(
                F.when(F.col("__ya") > F.col("__yb"), F.col("__ca") * F.col("__cb")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("discordant"),
        )
    )
    out = tot.join(F.broadcast(cd)).join(F.broadcast(tx)).join(F.broadcast(ty))
    # exact int64 n0 = n(n-1)/2 via the even-factor split (one of n, n-1
    # is always even, so the floor-div loses nothing); n0 - ties stays
    # int64; only the final denominator factors cast to double
    n0 = F.expr(
        "CASE WHEN n % 2 = 0 THEN (n div 2) * (n - 1) ELSE n * ((n - 1) div 2) END"
    ).cast("long")
    denom = F.sqrt(
        (n0 - F.col("ties_x")).cast("double") * (n0 - F.col("ties_y")).cast("double")
    )
    num = F.col("concordant").cast("double") - F.col("discordant").cast("double")
    return out.select(
        "n",
        "concordant",
        "discordant",
        "ties_x",
        "ties_y",
        F.round(F.when(denom > 0.0, num / denom), 9).alias("tau_b_r"),
    )


# LCM(1..16): every per-unit pair-denominator (m_u - 1) up to 16 divides
# it, so the Krippendorff observed-disagreement sum stays exact int64.
_KRIPP_LCM = 720720


def krippendorff_alpha_nominal(
    df: DataFrame,
    unit_col: str,
    label_col: str,
    max_ratings_per_unit: int = 17,
) -> DataFrame:
    """X226 — Krippendorff's alpha, nominal metric (Krippendorff 2004,
    coincidence-matrix form): the general inter-annotator agreement
    statistic — any number of raters per unit, missing ratings allowed
    (units keep whatever ratings they have). The multi-rater successor
    of x191 Cohen's kappa, which handles exactly two labelings; a
    labeling pipeline with 3+ redundant annotations per example (the
    standard RLHF/eval setup) reports alpha.

    ``alpha = 1 - D_o / D_e`` where, over units with ``m_u >= 2``
    ratings, ``D_o = (1/n) Σ_u (m_u² - Σ_c n_uc²) / (m_u - 1)`` (the
    within-unit pairable disagreement) and
    ``D_e = (n² - Σ_c n_c²) / (n(n-1))`` (the marginal chance
    disagreement), with n = total pairable ratings and n_c the label
    marginals.

    Output (single row):
    ``(n_units, n_ratings, n_labels, d_obs_r, d_exp_r, alpha_r)``
    (9 dp; alpha NULL when D_e = 0 — every rating one label, agreement
    undefined).

    Cross-engine exactness: each unit's disagreement is scaled by
    LCM(1..16) = 720720, making ``LCM·(m_u²-Σn_uc²)/(m_u-1)`` exact
    integer division — the whole D_o numerator is an int64 sum, and the
    released floats are single IEEE expressions over exact integers
    (the x226 twin of the x221 2×-rank trick). Requires
    ``m_u <= max_ratings_per_unit`` (≤17 keeps the divisibility;
    raise the LCM for wider panels) — violated units raise loudly
    rather than silently degrade.

    Scale shape (100 TB): one (unit, label) count shuffle, one per-unit
    reduction, one label-marginal reduction — three word-count-shaped
    aggregations, all partial-combining; the release is one row.
    Int64 bound: LCM·m² per unit ≈ 2e8 at m=17; exact below ~4e10
    pairable ratings.
    """
    if max_ratings_per_unit > 17:
        raise ValueError(
            "krippendorff_alpha_nominal: LCM(1..16) covers at most 17 "
            "ratings per unit; raise _KRIPP_LCM for wider panels"
        )
    from dbms_data_anonymity_differential_privacy_spark.operators.util import track_cached

    # uc feeds both the per-unit reduction and the label marginals, and
    # per_u is consumed eagerly by the bound check below and again by
    # the release — persist both (ledger-tracked) so the fact-table
    # aggregation runs once
    uc = track_cached(
        df.groupBy(F.col(unit_col).alias("__u"), F.col(label_col).alias("__l"))
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        .persist()
    )
    per_u = track_cached(
        uc.groupBy("__u")
        .agg(
            F.sum("__c").cast("long").alias("__m"),
            F.sum(F.col("__c") * F.col("__c")).cast("long").alias("__ssq"),
        )
        .filter(F.col("__m") >= 2)
        .persist()
    )
    # a unit wider than the LCM bound would make the integer division
    # inexact — ESCALATE to the sorted-fold double path (one IEEE
    # division per unit, deterministic fold order on both engines; the
    # AD-test idiom) instead of raising (fuzz-oracle finding, r10). The
    # twin switches on the same MAX(m) condition.
    over = per_u.filter(F.col("__m") > max_ratings_per_unit).limit(1).count()
    if over:
        per_u = per_u.withColumn(
            "__do_d",
            (F.col("__m") * F.col("__m") - F.col("__ssq")).cast("double")
            / (F.col("__m") - 1).cast("double"),
        )
        tot = per_u.agg(
            F.count(F.lit(1)).cast("long").alias("n_units"),
            F.sum("__m").cast("long").alias("n_ratings"),
            F.expr(
                "aggregate(array_sort(collect_list(__do_d)),"
                " CAST(0.0 AS DOUBLE), (a, b) -> a + b)"
            ).alias("__sd"),
        )
    else:
        per_u = per_u.withColumn(
            "__do_num",
            F.expr(
                f"CAST({_KRIPP_LCM} AS BIGINT) * (__m * __m - __ssq) div (__m - 1)"
            ),
        )
        tot = per_u.agg(
            F.count(F.lit(1)).cast("long").alias("n_units"),
            F.sum("__m").cast("long").alias("n_ratings"),
            F.sum("__do_num").cast("long").alias("__s"),
        )
    marg = (
        uc.join(per_u.select("__u"), on="__u")
        .groupBy("__l")
        .agg(F.sum("__c").cast("long").alias("__nc"))
    )
    mt = marg.agg(
        F.count(F.lit(1)).cast("long").alias("n_labels"),
        F.sum(F.col("__nc") * F.col("__nc")).cast("long").alias("__t"),
    )
    out = tot.join(F.broadcast(mt))
    nd = F.col("n_ratings").cast("double")
    if over:
        d_obs = F.col("__sd") / nd
    else:
        d_obs = F.col("__s").cast("double") / F.lit(float(_KRIPP_LCM)) / nd
    de_num = nd * nd - F.col("__t").cast("double")
    d_exp = de_num / (nd * (nd - F.lit(1.0)))
    return out.select(
        "n_units",
        "n_ratings",
        "n_labels",
        F.round(d_obs, 9).alias("d_obs_r"),
        F.round(d_exp, 9).alias("d_exp_r"),
        F.round(F.when(de_num > 0.0, F.lit(1.0) - d_obs / d_exp), 9).alias("alpha_r"),
    )


def _sq(c: Column) -> Column:
    """x*x, never pow(x, 2): plain multiply is one correctly-rounded IEEE
    op on both engines; libm pow carries no such cross-engine promise."""
    return c * c


def anderson_darling_2samp(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """X229 — two-sample Anderson-Darling statistic, midrank (tie-aware)
    version (Pettitt 1976; the k=2 case of Scholz & Stephens 1987
    ``A2akN``, the variant scipy's anderson_ksamp computes): the
    tail-sensitive complement to KS (x108) and MWU (x80) — AD weights
    the empirical-CDF discrepancy by 1/(F(1-F)), so distributional
    drift concentrated in the tails (the regime that breaks quality
    gates and outlier filters) registers long before KS moves.

    Computed on the DISTINCT-VALUE relation, never per-row ranks: for
    pooled distinct value j with multiplicity ``l_j``, sample counts
    ``l_aj``/``l_bj`` and strictly-below cumulative counts, the doubled
    midrank cumulatives ``M2_ij = 2*below_i + l_ij`` and
    ``B2_j = 2*below + l_j`` keep every count exact int64, and the
    per-value contribution reduces to

        t_j = l_j * [ (N*M2_aj - n_a*B2_j)^2 / n_a
                    + (N*M2_bj - n_b*B2_j)^2 / n_b ]
              / (B2_j*(2N - B2_j) - N*l_j)

    with ``A2akN = (N-1)/N^2 * sum_j t_j``. (Derivation: the doubled
    cumulatives absorb the 1/2 midrank offsets; the factor-4 the square
    picks up cancels against the denominator's; the per-value weight is
    l_j/N, contributing the second 1/N.) The squared numerator is cast
    to double BEFORE squaring (it exceeds int64 past N ~ 40k) — one
    identical IEEE expression per engine — and the per-value terms sum
    via a sorted fold, so the released double is bit-reproducible
    (the x80/x156 distinct-value contract). Values tied across the
    whole pool (den = 0, only possible when every row is one value)
    contribute 0.

    Output (single row): ``(n_a, n_b, n_distinct, a2_r)`` at 9 dp —
    the raw A2akN statistic; standardization/p-value are driver-side
    (the x71/x74 convention; pinned against a NumPy midrank
    reimplementation in pytest).

    Scale shape (100 TB): ONE aggregation collapses the fact table to
    the distinct-value relation; cumulatives are windows over that
    compact relation; the release is one row. Near-continuous doubles
    at extreme scale: pre-bucket (rank tests stay valid on binned data;
    the formula is already tie-aware).
    """
    from pyspark.sql import Window

    from dbms_data_anonymity_differential_privacy_spark.operators.util import track_cached

    g = F.col(group_col)
    counts = (
        # NULL observations rank nowhere; NULL ORDER BY position is
        # engine-dependent — exclude (fuzz-oracle finding, r10)
        df.filter(g.isin([group_a, group_b]))
        .filter(F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).alias("__v"))
        .agg(
            F.sum(F.when(g == group_a, 1).otherwise(0)).cast("long").alias("__la"),
            F.sum(F.when(g == group_b, 1).otherwise(0)).cast("long").alias("__lb"),
        )
    )
    w_prev = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, -1)
    # staged feeds the totals AND the term projection — persist the
    # distinct-value-sized relation (ledger-tracked) so the fact
    # aggregation + window run once
    staged = track_cached(
        counts.withColumn("__ba", F.coalesce(F.sum("__la").over(w_prev), F.lit(0)))
        .withColumn("__bb", F.coalesce(F.sum("__lb").over(w_prev), F.lit(0)))
        .withColumn("__l", F.col("__la") + F.col("__lb"))
        .persist()
    )
    tot = staged.agg(
        F.sum("__la").cast("long").alias("n_a"),
        F.sum("__lb").cast("long").alias("n_b"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
    )
    terms = staged.join(F.broadcast(tot)).select(
        F.col("n_a"),
        F.col("n_b"),
        F.col("n_distinct"),
        F.col("__v"),
        (
            # try_divide: with an empty group every term goes NULL
            # instead of raising under ANSI; the release is masked NULL
            # at the end (fuzz-oracle finding, r10)
            F.col("__l").cast("double")
            * (
                F.try_divide(
                    _sq(
                        (
                            (F.col("n_a") + F.col("n_b"))
                            * (F.lit(2) * F.col("__ba") + F.col("__la"))
                            - F.col("n_a")
                            * (F.lit(2) * (F.col("__ba") + F.col("__bb")) + F.col("__l"))
                        ).cast("double")
                    ),
                    F.col("n_a").cast("double"),
                )
                + F.try_divide(
                    _sq(
                        (
                            (F.col("n_a") + F.col("n_b"))
                            * (F.lit(2) * F.col("__bb") + F.col("__lb"))
                            - F.col("n_b")
                            * (F.lit(2) * (F.col("__ba") + F.col("__bb")) + F.col("__l"))
                        ).cast("double")
                    ),
                    F.col("n_b").cast("double"),
                )
            )
        ).alias("__num"),
        (
            (F.lit(2) * (F.col("__ba") + F.col("__bb")) + F.col("__l"))
            * (
                F.lit(2) * (F.col("n_a") + F.col("n_b"))
                - (F.lit(2) * (F.col("__ba") + F.col("__bb")) + F.col("__l"))
            )
            - (F.col("n_a") + F.col("n_b")) * F.col("__l")
        )
        .cast("long")
        .alias("__den"),
    )
    per = terms.select(
        "n_a",
        "n_b",
        "n_distinct",
        F.when(F.col("__den") > 0, F.col("__num") / F.col("__den").cast("double"))
        .otherwise(F.lit(0.0))
        .alias("__t"),
    )
    out = per.groupBy("n_a", "n_b", "n_distinct").agg(
        F.expr(
            "aggregate(array_sort(collect_list(__t)), CAST(0.0 AS DOUBLE),"
            " (a, b) -> a + b)"
        ).alias("__s")
    )
    nd = (F.col("n_a") + F.col("n_b")).cast("double")
    a2 = (nd - F.lit(1.0)) / (nd * nd) * F.col("__s")
    # one-sided-empty sample: the test is undefined (the per-term
    # divisions by n_a/n_b have no value) — release NULL, matching the
    # twin's SQL NULL propagation (fuzz-oracle finding, r10). The guard
    # sits OUTSIDE the fold so ANSI Spark never evaluates x/0: Catalyst
    # cannot prove n_a > 0, but the fold runs on a relation whose rows
    # all carry the same n_a, and with n_a = 0 the masked branch is the
    # one returned.
    defined = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return out.select(
        "n_a", "n_b", "n_distinct",
        F.when(defined, F.round(a2, 9)).alias("a2_r"),
    )


def ljung_box(
    events: DataFrame,
    max_lag: int = 24,
    ts_col: str = "ts",
) -> DataFrame:
    """X230 — Ljung-Box portmanteau whiteness test on the hourly
    event-rate series (Ljung & Box 1978): ``Q = n(n+2) Σ_{k=1..h}
    r_k²/(n−k)`` — the one-number "is there ANY autocorrelation left?"
    summary that model-residual checks and drift monitors quote, where
    x142 releases the per-lag picture. Under the null (white series) Q
    is chi-square with h dof; the p-value is driver-side, the x71/x74
    convention.

    Exactness: the series and per-lag sufficient statistics are x142's
    exactly (dense zero-filled integer spine, DECIMAL(38,0) sums); each
    r_k is the same single IEEE division x142 releases (unrounded
    here), the per-lag terms ``r_k²/(n−k)`` fold in lag order, and
    ``n(n+2)`` stays an exact integer until the final multiply — every
    float op identical cross-engine. NULL when the series is constant.

    Output (single row): ``(n_periods, max_lag, q_r)`` at 9 dp.

    Scale shape: identical to x142 — fact rows shuffle once into hourly
    counts; everything after runs on the buckets-sized relation.
    """
    if max_lag < 1:
        raise ValueError(f"max_lag must be >= 1, got {max_lag}")
    DEC = "decimal(38,0)"
    spark = events.sparkSession

    hour = F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(3600)).alias("t")
    counts = events.groupBy(hour).agg(F.count(F.lit(1)).alias("c"))
    bounds = counts.agg(F.min("t").alias("lo"), F.max("t").alias("hi"))
    spine = bounds.select(F.explode(F.sequence("lo", "hi")).alias("t"))
    dense = spine.join(counts, "t", "left").select(
        "t", F.coalesce("c", F.lit(0)).alias("c")
    )
    lags = spark.range(1, max_lag + 1).select(F.col("id").cast("int").alias("lag"))
    cur = dense.crossJoin(F.broadcast(lags))
    prev = dense.select(F.col("t").alias("__tp"), F.col("c").alias("__cp"))
    pairs = cur.join(prev, cur["t"] - cur["lag"] == prev["__tp"])
    per_lag = pairs.groupBy("lag").agg(
        F.sum((F.col("c") * F.col("__cp")).cast(DEC)).alias("P"),
        F.sum(F.col("c").cast(DEC)).alias("A"),
        F.sum(F.col("__cp").cast(DEC)).alias("B"),
    )
    totals = dense.agg(
        F.count(F.lit(1)).cast(DEC).alias("n"),
        F.sum(F.col("c").cast(DEC)).alias("S"),
        F.sum((F.col("c") * F.col("c")).cast(DEC)).alias("Q"),
    )
    j = per_lag.crossJoin(F.broadcast(totals))
    n, S, Q = F.col("n"), F.col("S"), F.col("Q")
    num = (
        n * n * F.col("P")
        - n * S * (F.col("A") + F.col("B"))
        + (n - F.col("lag").cast(DEC)) * S * S
    )
    den = n * n * Q - n * S * S
    r = num.cast("double") / den.cast("double")
    term = r * r / (n - F.col("lag").cast(DEC)).cast("double")
    staged = j.select(
        F.col("n").cast("long").alias("n_periods"),
        F.when(den > 0, term).alias("__term"),
        F.col("lag"),
    )
    out = staged.groupBy("n_periods").agg(
        F.count(F.lit(1)).cast("int").alias("max_lag"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(lag, __term))),"
            " CAST(0.0 AS DOUBLE), (a, x) -> a + x.__term)"
        ).alias("__s"),
        F.sum(F.when(F.col("__term").isNull(), 1).otherwise(0)).alias("__nulls"),
    )
    q = (
        (F.col("n_periods") * (F.col("n_periods") + F.lit(2))).cast("double")
        * F.col("__s")
    )
    return out.select(
        "n_periods",
        "max_lag",
        F.round(F.when(F.col("__nulls") == 0, q), 9).alias("q_r"),
    )


def anderson_darling_ksamp(
    df: DataFrame,
    value_col: str,
    group_col: str,
    groups: Sequence,
) -> DataFrame:
    """X235 — k-sample Anderson-Darling A2akN (Scholz & Stephens 1987,
    midrank version): does ANY of the k cohorts draw from a different
    distribution? The one-test answer before k·(k-1)/2 pairwise x229
    runs — the standard homogeneity screen across data sources, time
    slices, or annotator cohorts. Identical machinery to
    :func:`anderson_darling_2samp` (doubled midrank cumulatives, exact
    int64 counts, x*x squares, sorted term fold) generalized to k
    per-group count/cumulative columns.

    Output (single row): ``(n_total, n_groups, n_distinct, a2_r)`` at
    9 dp; NumPy-midrank parity pinned in pytest.

    Scale shape: one distinct-value aggregation (k conditional sums in
    the same pass), windows on the compact relation, one-row release.
    """
    from pyspark.sql import Window

    from dbms_data_anonymity_differential_privacy_spark.operators.util import track_cached

    ks = list(groups)
    if len(ks) < 2:
        raise ValueError("need at least 2 groups")
    g = F.col(group_col)
    counts = (
        # NULL observations rank nowhere; NULL ORDER BY position is
        # engine-dependent — exclude (fuzz-oracle finding, r10)
        df.filter(g.isin(ks))
        .filter(F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).alias("__v"))
        .agg(
            *[
                F.sum(F.when(g == k, 1).otherwise(0)).cast("long").alias(f"__l{i}")
                for i, k in enumerate(ks)
            ]
        )
    )
    w_prev = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, -1)
    staged = counts
    for i in range(len(ks)):
        staged = staged.withColumn(
            f"__b{i}", F.coalesce(F.sum(f"__l{i}").over(w_prev), F.lit(0))
        )
    l_tot = None
    b_tot = None
    for i in range(len(ks)):
        l_tot = F.col(f"__l{i}") if l_tot is None else l_tot + F.col(f"__l{i}")
        b_tot = F.col(f"__b{i}") if b_tot is None else b_tot + F.col(f"__b{i}")
    staged = track_cached(
        staged.withColumn("__l", l_tot).withColumn("__bt", b_tot).persist()
    )
    tot = staged.agg(
        *[F.sum(f"__l{i}").cast("long").alias(f"n_{i}") for i in range(len(ks))],
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
    )
    t = staged.join(F.broadcast(tot))
    N = None
    for i in range(len(ks)):
        N = F.col(f"n_{i}") if N is None else N + F.col(f"n_{i}")
    b2 = F.lit(2) * F.col("__bt") + F.col("__l")
    den = (b2 * (F.lit(2) * N - b2) - N * F.col("__l")).cast("long")
    inner = None
    for i in range(len(ks)):
        # try_divide: an empty group makes every term NULL instead of
        # raising under ANSI; the release is masked NULL at the end
        num_i = F.try_divide(
            _sq(
                (
                    N * (F.lit(2) * F.col(f"__b{i}") + F.col(f"__l{i}"))
                    - F.col(f"n_{i}") * b2
                ).cast("double")
            ),
            F.col(f"n_{i}").cast("double"),
        )
        inner = num_i if inner is None else inner + num_i
    term = F.when(
        den > 0, F.col("__l").cast("double") * inner / den.cast("double")
    ).otherwise(F.lit(0.0))
    per = t.select(
        *[F.col(f"n_{i}") for i in range(len(ks))],
        F.col("n_distinct"),
        term.alias("__t"),
    )
    out = per.groupBy(
        *[F.col(f"n_{i}") for i in range(len(ks))], F.col("n_distinct")
    ).agg(
        F.expr(
            "aggregate(array_sort(collect_list(__t)), CAST(0.0 AS DOUBLE),"
            " (a, b) -> a + b)"
        ).alias("__s")
    )
    n_total = None
    for i in range(len(ks)):
        n_total = (
            F.col(f"n_{i}") if n_total is None else n_total + F.col(f"n_{i}")
        )
    nd = n_total.cast("double")
    a2 = (nd - F.lit(1.0)) / (nd * nd) * F.col("__s")
    # any empty group: the k-sample test is undefined — NULL release,
    # matching the twin's SQL NULL propagation (fuzz-oracle finding, r10)
    defined = None
    for i in range(len(ks)):
        d_i = F.col(f"n_{i}") > 0
        defined = d_i if defined is None else (defined & d_i)
    return out.select(
        n_total.cast("long").alias("n_total"),
        F.lit(len(ks)).cast("int").alias("n_groups"),
        "n_distinct",
        F.when(defined, F.round(a2, 9)).alias("a2_r"),
    )


def theil_u(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """X236 — Theil's uncertainty coefficient, both directions (Theil
    1970): the NORMALIZED, asymmetric companion to x64's mutual
    information — ``U(A|B) = I(A;B) / H(A)`` is the fraction of A's
    entropy explained by knowing B. The asymmetry is the point: for
    feature screens "how much does source tell me about lang" and the
    reverse are different questions (Cramér's V, x204, symmetrizes them
    away). Same counts-relation algebra as x64: one fact aggregation to
    the (a, b, count) relation, window marginals, one rollup; the
    telescoped ``c_ab·N/(c_a·c_b)`` keeps integer products inside each
    log (the x64 exactness note).

    Output (single row): ``(n, n_cells, h_a_r, h_b_r, mi_r,
    u_a_given_b_r, u_b_given_a_r)`` at 9 dp; U is NULL when the
    conditioned entropy is 0 (a constant column explains nothing and
    has nothing to explain).
    """
    from pyspark.sql import Window

    joint = (
        # listwise NULL deletion — the x71/x204 convention (fuzz, r10)
        df.filter(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
        .groupBy(F.col(a_col).alias("__a"), F.col(b_col).alias("__b"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    wa = Window.partitionBy("__a")
    wb = Window.partitionBy("__b")
    wall = Window.partitionBy()
    cells = (
        joint.withColumn("__ca", F.sum("__c").over(wa))
        .withColumn("__cb", F.sum("__c").over(wb))
        .withColumn("__n", F.sum("__c").over(wall))
        .withColumn("__ma", F.row_number().over(wa.orderBy("__b")) == 1)
        .withColumn("__mb", F.row_number().over(wb.orderBy("__a")) == 1)
    )
    n = F.col("__n").cast("double")
    p_ab = F.col("__c") / n
    ratio = (F.col("__c") * F.col("__n")).cast("double") / (
        F.col("__ca") * F.col("__cb")
    ).cast("double")
    pa = F.col("__ca") / n
    pb = F.col("__cb") / n
    agg = cells.agg(
        F.max("__n").cast("long").alias("n"),
        F.count(F.lit(1)).alias("n_cells"),
        (-F.sum(F.when(F.col("__ma"), pa * F.log(pa)).otherwise(0.0))).alias("__ha"),
        (-F.sum(F.when(F.col("__mb"), pb * F.log(pb)).otherwise(0.0))).alias("__hb"),
        F.sum(p_ab * F.log(ratio)).alias("__mi"),
    )
    return agg.select(
        "n",
        "n_cells",
        F.round("__ha", ROUND_DP).alias("h_a_r"),
        F.round("__hb", ROUND_DP).alias("h_b_r"),
        F.round("__mi", ROUND_DP).alias("mi_r"),
        F.round(
            F.when(F.col("__ha") > 0.0, F.col("__mi") / F.col("__ha")), ROUND_DP
        ).alias("u_a_given_b_r"),
        F.round(
            F.when(F.col("__hb") > 0.0, F.col("__mi") / F.col("__hb")), ROUND_DP
        ).alias("u_b_given_a_r"),
    )
