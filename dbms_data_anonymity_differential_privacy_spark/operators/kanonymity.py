"""k-anonymity operators — SURVEY §2b C1/C2.

The reference suppresses rows whose quasi-identifier (QI) equivalence class
has fewer than k members by building a group-frequency table and inner-
merging it back (reference ``naive-suppresion.py:29-40``), and audits
k-anonymity by reporting class counts / min size / at-risk rows
(``Archived/data-anonymity.py:48-71``).

Spark-first design: the suppression is ONE shuffle — a window count over
the QI partition and a filter — instead of the reference's aggregate +
re-join (two shuffles of which one re-shuffles the whole fact table on a
wide composite key). At 100 TB this halves shuffle volume; AQE handles
skewed modal classes.
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd
from pyspark.sql import DataFrame, Row, Window
from pyspark.sql import functions as F

CLASS_SIZE_COL = "class_size"

# Distinct tuples a driver-side step accepts: the collected table and the
# work done on it scale with this, not with the row count.
MAX_QI_TUPLES = 1_000_000
TUPLE_COUNT_COL = "__count"


class QITupleLimitError(ValueError):
    """More distinct QI tuples than a driver-side step accepts."""


def class_sizes(df: DataFrame, qi: Sequence[str]) -> DataFrame:
    """P5 — the QI group-frequency relation: one row per equivalence class
    with its member count (reference ``naive-suppresion.py:34``)."""
    return df.groupBy(*qi).agg(F.count(F.lit(1)).alias(CLASS_SIZE_COL))


def collect_tuple_counts(
    df: DataFrame,
    cols: Sequence[str],
    hint: str,
    limit: int | None = None,
    as_pandas: bool = False,
) -> list[Row] | pd.DataFrame:
    """The distinct ``cols`` tuples of ``df`` with their row counts
    (``TUPLE_COUNT_COL``), collected in one aggregation: Rows, or a pandas
    frame with ``as_pandas``. More than ``limit`` (default
    ``MAX_QI_TUPLES``) tuples raise :class:`QITupleLimitError`, whose
    message ends with ``hint``; the limit keeps an oversized table off the
    driver inside the same job and never cuts a table that is accepted."""
    limit = MAX_QI_TUPLES if limit is None else limit
    table = (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias(TUPLE_COUNT_COL))
        .limit(limit + 1)
    )
    got = table.toPandas() if as_pandas else table.collect()
    if len(got) > limit:
        raise QITupleLimitError(f"more than {limit} distinct QI tuples over {list(cols)}: {hint}")
    return got


def with_class_size(df: DataFrame, qi: Sequence[str], out_col: str = CLASS_SIZE_COL) -> DataFrame:
    """P9 — annotate every row with its equivalence-class size via a window
    count (replaces the reference's ``index.map`` join-back idiom,
    ``naive-suppresion.py:66-67``). One shuffle, no second relation."""
    w = Window.partitionBy(*[F.col(c) for c in qi])
    return df.withColumn(out_col, F.count(F.lit(1)).over(w))


def k_anonymize_suppress(df: DataFrame, qi: Sequence[str], k: int) -> DataFrame:
    """C1 — drop every row whose QI equivalence class has < k members.

    Physical shape (SURVEY P5→P6→P8): group-frequency aggregate + LEFT
    SEMI join of the frequent-class keys back onto the fact scan. The
    aggregate ships only QI tuples with map-side partial counts (skew-safe
    — a modal class partial-aggregates on every mapper instead of landing
    on one reducer, the failure mode of the window-count formulation).
    The join carries no hint: Spark's static ``autoBroadcastJoinThreshold``
    plus AQE's runtime join selection choose the strategy — a broadcast
    probe (the fact table never shuffles) while the key relation is
    small, a skew-split shuffled semi join when it is not (worst case
    rows/k keys). Reference semantics: ``naive-suppresion.py:29-40`` /
    ``t-closeness.py:91-95``.

    NULL handling contract: a row with ANY NULL QI value is always
    suppressed, whatever k — the semi-join uses SQL equality, under which
    NULL keys match nothing (identical in the DuckDB oracle, so both
    engines agree). This is also the privacy-conservative choice, and the
    reference never encounters the case (it drops all-NULL rows first,
    P2); pre-clean with ``df.na.drop`` to opt into the reference's exact
    flow.
    """
    frequent = (
        class_sizes(df, qi)
        .filter(F.col(CLASS_SIZE_COL) >= F.lit(k))
        .select(*qi)
    )
    # semi-join hoists join keys to the front — restore the input order
    return df.join(frequent, on=list(qi), how="left_semi").select(*df.columns)


def k_anonymity_audit(df: DataFrame, qi: Sequence[str], k: int) -> DataFrame:
    """C2 — one-row report: #classes, min/max class size, #classes below k,
    #at-risk rows, k satisfied (reference ``Archived/data-anonymity.py:48-71``).

    Single aggregation over the class-frequency relation — the class
    relation is tiny relative to the fact table, so this is one shuffle +
    a scalar agg.
    """
    cs = class_sizes(df, qi)
    return cs.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.min(CLASS_SIZE_COL).alias("min_class_size"),
        F.max(CLASS_SIZE_COL).alias("max_class_size"),
        F.sum(F.when(F.col(CLASS_SIZE_COL) < k, 1).otherwise(0)).alias("classes_below_k"),
        F.sum(F.when(F.col(CLASS_SIZE_COL) < k, F.col(CLASS_SIZE_COL)).otherwise(0)).alias(
            "rows_at_risk"
        ),
        (F.min(CLASS_SIZE_COL) >= F.lit(k)).alias("k_satisfied"),
    )


def km_anonymity_audit(
    df: DataFrame,
    user_col: str,
    item_col: str,
    m: int = 2,
    k: int = 5,
) -> DataFrame:
    """X70 — k^m-anonymity audit for SET-VALUED data (Terrovitis,
    Mamoulis & Kalnis, VLDB 2008).

    Row-per-record k-anonymity (C1/C2) models one QI tuple per person;
    transaction data — the items/diagnoses/event-types a user has — is a
    SET, and the attacker model changes: an adversary knowing up to m of
    a user's items re-identifies them if fewer than k users share that
    m-item combination. This audit releases the support of every
    observed m-item combination and flags the risky ones.

    ``m`` in {1, 2} (the published attack sizes that stay tractable
    without itemset mining; larger m = the same join chained, cost
    multiplies by per-user set size each step — documented, not hidden).

    Physical shape: the fact table collapses map-side to the DISTINCT
    (user, item) relation first (<= users x items, like the X55 activity
    relation). m=2 self-joins that slim relation on the user key — both
    sides arrive under the ONE user-hash shuffle, pair fan-out is
    bounded by per-user set size (here <= |event types|), and support
    counting partial-combines. Fact rows are never paired.

    Output: ``(item_a[, item_b], support, risky)`` — support is exact
    (each user counted once per combination by construction), risky =
    support < k.
    """
    if m not in (1, 2):
        raise ValueError("m must be 1 or 2 (chain the join for larger m)")
    if k < 1:
        raise ValueError("k must be >= 1")
    items = df.select(F.col(user_col).alias("__u"), F.col(item_col).alias("__i")).distinct()
    if m == 1:
        support = items.groupBy(F.col("__i").alias("item_a")).agg(
            F.count(F.lit(1)).alias("support")
        )
    else:
        a = items.alias("a")
        b = items.alias("b")
        pairs = a.join(
            b,
            (F.col("a.__u") == F.col("b.__u")) & (F.col("a.__i") < F.col("b.__i")),
            "inner",
        ).select(F.col("a.__i").alias("item_a"), F.col("b.__i").alias("item_b"))
        support = pairs.groupBy("item_a", "item_b").agg(
            F.count(F.lit(1)).alias("support")
        )
    return support.withColumn("risky", F.col("support") < F.lit(int(k)))


def anatomize(
    df: DataFrame,
    qi: Sequence[str],
    sensitive: str,
    id_col: str,
    ell: int,
) -> dict[str, DataFrame]:
    """Anatomy release (Xiao & Tao, VLDB 2006): publish the QI table and
    the sensitive table SEPARATELY, linked only by a group id — no
    generalization, full QI utility, l-diversity inside each group.

    Deterministic dealing construction: records sort by ``(sensitive,
    id)`` and deal round-robin into ``n_groups = ceil(N / ell)`` buckets
    (``group_id = (global_rank - 1) % n_groups``). Consecutive records
    of one sensitive value land in distinct groups, so every group holds
    ``ell`` distinct sensitive values whenever the eligibility condition
    holds (max sensitive frequency <= n_groups — the same condition the
    original greedy algorithm needs); the returned ``groups`` relation
    carries the per-group distinct count so a caller can verify instead
    of trusting.

    Returns ``{"qit": (id, qi..., group_id), "st": (group_id, sensitive,
    cnt), "groups": (group_id, group_size, n_distinct_sensitive,
    l_diverse)}``.

    Scale shape: ONE global sort (range partition by the composite sort
    key — Spark's Window without PARTITION BY uses a single-partition
    sort, so the rank is computed from a distributed sort via zipWithIndex
    -free arithmetic: rank = row_number within sensitive value + offset of
    the value, both from one (sensitive, count) rollup that broadcasts).
    The fact table shuffles once, on the sensitive value.
    """
    if ell < 2:
        raise ValueError("ell must be >= 2")
    # global rank WITHOUT a single-reducer window: rank within each
    # sensitive value (one keyed shuffle) + broadcast running offset of
    # the value (kilobyte relation) = the exact (sensitive, id) order
    per_val = Window.partitionBy(sensitive).orderBy(id_col)
    ranked = df.withColumn("__r_in_val", F.row_number().over(per_val))
    val_counts = (
        df.groupBy(sensitive)
        .agg(F.count(F.lit(1)).alias("__vc"))
        .withColumn(
            "__offset",
            F.coalesce(
                F.sum("__vc").over(
                    Window.orderBy(sensitive).rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select(sensitive, "__offset")
    )
    n_total = df.count()
    n_groups = -(-n_total // ell)  # ceil
    qit = (
        ranked.join(F.broadcast(val_counts), on=sensitive)
        .withColumn(
            "__grank", F.col("__offset") + F.col("__r_in_val") - F.lit(1)
        )
        .select(
            F.col(id_col),
            *[F.col(c) for c in qi],
            (F.col("__grank") % F.lit(int(n_groups))).cast("int").alias("group_id"),
            F.col(sensitive).alias("__s"),
        )
    )
    st = (
        qit.groupBy("group_id", F.col("__s").alias(sensitive))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    groups = st.groupBy("group_id").agg(
        F.sum("cnt").cast("long").alias("group_size"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_sensitive"),
        (F.count(F.lit(1)) >= F.lit(int(ell))).alias("l_diverse"),
    )
    return {"qit": qit.drop("__s"), "st": st, "groups": groups}
