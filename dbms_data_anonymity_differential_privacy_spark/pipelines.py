"""End-to-end pipeline composites — one per reference entry point.

A user of the reference runs three scripts top-to-bottom; each function
here is the Spark-native equivalent of one script (SURVEY §3.1-§3.3),
returning the anonymized relation plus a single-row metrics relation with
the same metric definitions the script prints. The anonymized relation is
computed by whichever action writes it, and the metrics row is the only
thing a caller should collect. Building a release runs Spark jobs only
where a driver-side step needs data: the clustering fit collects its
weighted QI-tuple table, and t-closeness collects the global sensitive
distribution twice (``tcloseness._emd_from_counts``, once for the filter's
verdicts and once for the post-filter violation report).

| function | reference entry point |
|---|---|
| ``naive_suppression_pipeline`` | ``naive-suppresion.py`` (full trace §3.1) |
| ``clustering_pipeline`` | ``clustering-anon.py`` (§3.2, quirks preserved) |
| ``t_closeness_pipeline`` | ``t-closeness.py`` (§3.3; strict + reference modes) |

The ML utility-accuracy step (C10) is deliberately NOT run inside the
pipelines — it trains a RandomForest and belongs to an explicit
``operators.utility.utility_accuracy`` call (the reference runs it inline,
which makes every anonymization pay for a model fit).
"""

from __future__ import annotations

from typing import Mapping, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbms_data_anonymity_differential_privacy_spark.functions.binning import bin_equal_width
from dbms_data_anonymity_differential_privacy_spark.operators.clustering import fit_clusters
from dbms_data_anonymity_differential_privacy_spark.operators.kanonymity import class_sizes
from dbms_data_anonymity_differential_privacy_spark.operators.metrics import _ncp_expr
from dbms_data_anonymity_differential_privacy_spark.operators.tcloseness import (
    ROUND_DP as _ROUND_DP,
    _emd_from_counts,
    _verdict_keys,
    _violation_row,
)
from dbms_data_anonymity_differential_privacy_spark.operators.util import sql_round, track_cached

ROUND_DP = 9

_CLUSTER_METRICS = T.StructType([
    T.StructField("k_satisfied", T.BooleanType()),
    T.StructField("uniqueness_rate", T.DoubleType()),
    T.StructField("reid_risk", T.DoubleType()),
    T.StructField("suppression_rate", T.DoubleType()),
    T.StructField("ncp", T.DoubleType()),
])


def _suppression_cols(size: Column, kept_size: Column) -> list[Column]:
    """``n_orig, n_anon, suppression_rate`` as aggregates over a class
    relation: ``size`` per class, ``kept_size`` NULL for a suppressed class."""
    n_orig = F.coalesce(F.sum(size), F.lit(0))
    n_anon = F.coalesce(F.sum(kept_size), F.lit(0))
    return [
        n_orig.alias("n_orig"),
        n_anon.alias("n_anon"),
        F.round((n_orig - n_anon) / n_orig, _ROUND_DP).alias("suppression_rate"),
    ]


def naive_suppression_pipeline(
    df: DataFrame, qi: Sequence[str], k: int = 5
) -> dict[str, DataFrame]:
    """Reference ``naive-suppresion.py`` end to end (SURVEY §3.1):
    null-drop → k-anonymity suppression → privacy metrics.

    Returns ``{"anonymized": rows, "metrics": one-row}`` where metrics has
    ``n_orig, n_anon, suppression_rate`` (:47-49), ``min_class_size,
    k_satisfied`` (:56), ``uniqueness_rate`` rows-denominator (:60-62),
    ``reid_risk`` (:64-69), ``ncp`` (:74-83).

    The whole metrics row is ONE aggregation over the class-size relation:
    suppression removes entire classes, so the anonymized class-size
    relation is exactly the kept subset of the original one, and every
    "after" metric is a conditional aggregate over ``kept_size`` (NULL for
    a suppressed class). NCP's per-column distinct counts are identical
    over the class relation and the fact rows (every distinct QI value
    appears in some class tuple). Fact rows are aggregated once and
    rescanned only to build the anonymized output relation.
    """
    clean = df.na.drop("any")
    sizes = track_cached(class_sizes(clean, qi).persist())  # the one fact aggregation
    size = F.col("class_size")
    kept = size >= F.lit(k)
    kept_size = F.when(kept, size)
    # frequent-class keys: Spark's threshold + AQE pick the join strategy
    anon = clean.join(
        sizes.filter(kept).select(*qi), on=list(qi), how="left_semi"
    ).select(*clean.columns)

    # no class survives → NULL sums: uniqueness and reid_risk stay NULL
    # (NULL/NULL, never an ANSI 0/0)
    metrics = sizes.agg(
        *_suppression_cols(size, kept_size),
        F.coalesce(F.min(kept_size), F.lit(0)).alias("min_class_size"),
        F.coalesce(F.min(kept_size) >= k, F.lit(False)).alias("k_satisfied"),
        F.round(
            F.sum(F.when(kept, F.when(size == 1, 1).otherwise(0))) / F.sum(kept_size),
            _ROUND_DP,
        ).alias("uniqueness_rate"),
        F.round(F.count(kept_size) / F.sum(kept_size), _ROUND_DP).alias("reid_risk"),
        _ncp_expr(
            [F.countDistinct(c) for c in qi],
            [F.countDistinct(F.when(kept, F.col(c))) for c in qi],
        ).alias("ncp"),
    )
    return {"anonymized": anon, "metrics": metrics}


def clustering_pipeline(
    df: DataFrame,
    qi: Sequence[str],
    n_clusters: int = 10,
    k: int = 5,
    seed: int = 42,
) -> dict[str, DataFrame]:
    """Reference ``clustering-anon.py`` end to end (SURVEY §3.2), quirks
    preserved: rows are never removed (suppression is *measured* over
    clusters smaller than k, :78-81) and the generalization table is a
    separate k_clusters-row relation never joined back (:51).

    Metrics row: ``k_satisfied`` (min cluster size >= k, :63),
    ``uniqueness_rate`` = singleton clusters / n_clusters (:67-69),
    ``reid_risk`` = mean over rows of 1/cluster size (:71-75),
    ``suppression_rate`` = rows in clusters < k / total rows (:78-81),
    ``ncp`` = per-QI (nunique original - nunique *ranges*)/nunique original
    (:85-88 — note the anon side counts distinct range strings in the
    10-row generalization table, not row values).

    Everything but the rows comes from the fit's weighted QI-tuple table
    (``operators.clustering``): one aggregation job feeds the driver-side
    fit, the generalization table and this metrics row, which are local
    relations; the rows are the fact scan broadcast-joined to the
    (QI tuple → cluster) relation, computed by whichever action writes them.
    """
    fit = fit_clusters(df, qi, n_clusters, seed)
    generalized = fit.generalization()
    ranges = generalized.collect()  # a local relation: no job
    sizes = fit.sizes()
    n_rows = int(sizes.sum())

    def rate(num: int, den: int) -> float | None:  # SQL: NULL over no rows
        return sql_round(num / den, ROUND_DP) if den else None

    # NCP with the generalization table as the anonymized side (:85-88):
    # distinct non-NULL values per QI over the rows (= over the tuples)
    # against distinct range strings; an all-NULL QI has no defined loss
    per_col = []
    for c in qi:
        orig = int(fit.keys[c].nunique())
        anon = len({r[c] for r in ranges})
        per_col.append((orig - anon) / orig if orig else None)
    ncp_val = None if None in per_col else sql_round(sum(per_col) / len(per_col), ROUND_DP)
    row = {
        "k_satisfied": bool(sizes.min() >= k) if n_rows else None,
        "uniqueness_rate": rate(int((sizes == 1).sum()), n_clusters) if n_rows else None,
        # reid_risk telescopes to n_clusters / n_rows (operators.metrics.reid_risk)
        "reid_risk": rate(len(sizes), n_rows),
        "suppression_rate": rate(int(sizes[sizes < k].sum()), n_rows),
        "ncp": ncp_val,
    }
    metrics = df.sparkSession.createDataFrame(pd.DataFrame([row]), _CLUSTER_METRICS)
    return {"anonymized": fit.clustered(), "generalization": generalized, "metrics": metrics}


def t_closeness_pipeline(
    df: DataFrame,
    qi: Sequence[str],
    sensitive: str,
    k: int = 5,
    t: float = 0.2,
    bin_spec: Mapping[str, int] | None = None,
    mode: str = "strict",
) -> dict[str, DataFrame]:
    """Reference ``t-closeness.py`` end to end (SURVEY §3.3): null-drop →
    equal-width binning of numeric QIs (age→5, capital→3 in the reference,
    :36-40) → k-anonymity → t-closeness filter → metrics.

    ``bin_spec`` maps column → n_bins; each binned column replaces the raw
    column in the QI set as ``<col>_bin``. ``mode`` follows
    ``t_closeness_filter`` (SURVEY §3.4: 'strict' = intended EMD semantics,
    'reference' = as-written k-filter-only).

    Metrics row: ``n_orig, n_anon, suppression_rate`` (:223-224),
    ``uniqueness_rate`` classes-denominator (:211-214), ``ncp`` (:226-234),
    ``violations / total_groups / violation_rate`` vs the *post-filter*
    table distribution (:186-208).
    """
    clean = df.na.drop("any")
    work = clean
    eff_qi = list(qi)
    for col, n_bins in (bin_spec or {}).items():
        out = f"{col}_bin"
        work = bin_equal_width(work, col, n_bins, out)
        eff_qi = [out if c == col else c for c in eff_qi]

    # ONE fact-table aggregation: the (class, sensitive, count) relation
    # feeds the k-filter, both EMD chains (filter verdicts + post-filter
    # violation report), and every metric — n_orig/n_anon/suppression/
    # uniqueness from summed counts, NCP from per-column distincts of the
    # class tuples. Composing the standalone operators instead would
    # re-aggregate the fact table once per metric; at 100 TB that is the
    # difference between one big-table pass for the whole metrics row and
    # five. Only the anonymized output itself rescans fact rows.
    counts = (
        track_cached(
            work.groupBy(*eff_qi, sensitive)
            .agg(F.count(F.lit(1)).alias("__cnt"))
            .persist()
        )
    )
    # the verdict keys feed post_counts, anon and the metrics row: persist
    # them once; the join strategy is Spark's (threshold + AQE). anon has
    # one consumer, the caller's write, so it stays unpersisted.
    ok = track_cached(_verdict_keys(counts, eff_qi, sensitive, k, t, mode).persist())
    post_counts = track_cached(counts.join(ok, on=eff_qi, how="left_semi").persist())
    anon = work.join(ok, on=eff_qi, how="left_semi")

    # metric definitions identical to suppression_rate / uniqueness_rate
    # (classes denominator) / ncp (operators/metrics.py), as ONE class-level
    # aggregation: each class carries its size and a pass flag (NULL for a
    # suppressed class), and every "after" metric is a conditional
    # aggregate. NCP's per-column distincts over class tuples equal those
    # over fact rows. No class passes → NULL sum over 0 classes: the
    # uniqueness rate stays NULL (NULL/0, never an ANSI 0/0).
    sizes = counts.groupBy(*eff_qi).agg(F.sum("__cnt").alias("class_size"))
    flagged = sizes.join(ok.withColumn("__ok", F.lit(True)), on=eff_qi, how="left")
    size, passed = F.col("class_size"), F.col("__ok")
    kept_size = F.when(passed, size)
    per_class = flagged.agg(
        *_suppression_cols(size, kept_size),
        F.round(
            F.sum(F.when(passed, F.when(size == 1, 1).otherwise(0))) / F.count(kept_size),
            _ROUND_DP,
        ).alias("uniqueness_rate"),
        _ncp_expr(
            [F.countDistinct(c) for c in eff_qi],
            [F.countDistinct(F.when(passed, F.col(c))) for c in eff_qi],
        ).alias("ncp"),
    )
    # t_violations' report, against the post-filter distribution
    viol = _violation_row(_emd_from_counts(post_counts, eff_qi, sensitive), t)
    metrics = per_class.crossJoin(F.broadcast(viol))
    return {"anonymized": anon, "metrics": metrics}
