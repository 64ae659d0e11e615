"""Clustering-based anonymization — SURVEY §2b C3.

Reference (``clustering-anon.py:37-51``): label-encode categorical QIs →
standardize → KMeans(n_clusters=10, seed=42) → cluster id per row →
generalize each QI to its per-cluster "min-max" range string. The
reference never removes rows (suppression is *defined* but not applied,
SURVEY §3.2) and never joins the generalization back to rows — both quirks
preserved here: the row relation keeps raw values + cluster id, and the
generalization is a separate k-row table.

Solver: the KMeans objective depends on a row only through its QI tuple,
so Lloyd's algorithm over the distinct tuples, each weighted by its row
count, is Lloyd's algorithm over the rows (an exact coreset; Har-Peled &
Mazumdar, STOC 2004). A fit therefore runs ONE Spark job family — the
``groupBy(*qi)`` count, collected — and fits on the driver in numpy, as
the reference fits sklearn on the driver:

- label encoding: a string QI maps to its 0-based rank among the sorted
  distinct non-NULL values (StringIndexer ``alphabetAsc``, the encoding
  :func:`encode_scale` pins against DuckDB); a NULL string maps to
  ``n_labels`` (StringIndexer ``handleInvalid="keep"``). A NULL or NaN
  numeric QI has no position and raises :class:`NullQIError`;
- standardization with the weighted mean and the sample std (a zero std
  maps the feature to 0), as StandardScaler(withMean, withStd);
- seeded weighted k-means++ (inverse-CDF draws over cumulative weights),
  then Lloyd with MLlib's defaults: at most 20 iterations, stopping once
  no center moves more than 1e-4.

The tuples are sorted before the fit, so labels depend only on the data
and ``seed``, never on partitioning. They won't bit-match sklearn
(different init), so the registry's C3 queries stay rows-only (SURVEY §2
note on C3). The rows get their cluster through ONE broadcast join
against the local (QI tuple → cluster) relation on null-safe keys, so no
row is dropped; the generalization table is a projection over a local
relation, which Spark folds without a job.

Scale shape: the tuple table is bounded by the product of the QI domains,
not by the row count, and the fact rows are scanned twice (the
aggregation, then the map-side join) and never shuffled. Above
``MAX_QI_TUPLES`` distinct tuples the fit refuses with
:class:`QITupleLimitError`: bin the QIs first — a release over that many
distinct tuples is mostly singletons anyway.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Distinct QI tuples the driver-side fit accepts: the collected table, the
# broadcast lookup and the numpy fit all scale with it.
MAX_QI_TUPLES = 1_000_000
MAX_ITER = 20  # MLlib KMeans defaults
TOL = 1e-4

_WEIGHT = "__weight"


class NullQIError(ValueError):
    """A numeric QI holds NULL or NaN, which has no position to cluster on."""


class QITupleLimitError(ValueError):
    """More distinct QI tuples than the driver-side fit accepts."""


@dataclass(frozen=True)
class ClusterFit:
    """KMeans fitted on the weighted QI-tuple table of ``df``: ``keys``
    holds the distinct QI tuples in sorted order, ``weight`` their row
    counts and ``label`` their clusters."""

    df: DataFrame
    qi: tuple[str, ...]
    keys: pd.DataFrame
    weight: np.ndarray
    label: np.ndarray

    def clustered(self) -> DataFrame:
        """``df`` + ``cluster`` int column: the rows joined to the
        broadcast (QI tuple → cluster) relation. Null-safe keys, so a row
        with a NULL string QI finds its tuple like any other."""
        names = [f"__k{i}" for i in range(len(self.qi))]
        lookup = self.df.sparkSession.createDataFrame(
            self.keys.set_axis(names, axis=1).assign(cluster=self.label),
            T.StructType(
                [T.StructField(n, self.df.schema[c].dataType) for n, c in zip(names, self.qi)]
                + [T.StructField("cluster", T.IntegerType(), False)]
            ),
        )
        on = [self.df[c].eqNullSafe(lookup[n]) for c, n in zip(self.qi, names)]
        return self.df.join(F.broadcast(lookup), on).select(
            *[self.df[c] for c in self.df.columns], lookup["cluster"]
        )

    def sizes(self) -> np.ndarray:
        """Rows per non-empty cluster, in cluster order."""
        sizes = np.bincount(self.label, weights=self.weight)
        return sizes[sizes > 0].astype(np.int64)

    def generalization(self) -> DataFrame:
        """Per-cluster range generalization table (reference
        ``clustering-anon.py:51``): each QI → "min-max" string
        (lexicographic for strings, matching pandas object-series min/max;
        NULLs ignored, as SQL MIN/MAX do), plus ``cluster_size``. The
        strings are Spark's own ``cast("string")`` of the typed bounds."""
        ranks, bounds = {}, []
        for i, c in enumerate(self.qi):
            codes, values = pd.factorize(self.keys[c].to_numpy(), sort=True)
            ranks[i] = np.where(codes >= 0, codes, np.nan)
            bounds.append(values.tolist())
        per = pd.DataFrame(ranks).groupby(self.label)
        lo, hi = per.min(), per.max()
        cols = {"cluster": lo.index.to_numpy(dtype=np.int32)}
        fields = [T.StructField("cluster", T.IntegerType(), False)]
        for i, c in enumerate(self.qi):
            dt = self.df.schema[c].dataType
            for side, ext in (("lo", lo), ("hi", hi)):
                cols[f"__{side}{i}"] = [
                    None if np.isnan(r) else bounds[i][int(r)] for r in ext[i]
                ]
                fields.append(T.StructField(f"__{side}{i}", dt))
        cols["cluster_size"] = self.sizes()
        fields.append(T.StructField("cluster_size", T.LongType(), False))
        rel = self.df.sparkSession.createDataFrame(pd.DataFrame(cols), T.StructType(fields))
        return rel.select(
            "cluster",
            *[
                F.concat_ws(
                    "-", F.col(f"__lo{i}").cast("string"), F.col(f"__hi{i}").cast("string")
                ).alias(c)
                for i, c in enumerate(self.qi)
            ],
            "cluster_size",
        )


def _tuple_table(df: DataFrame, qi: Sequence[str]) -> tuple[pd.DataFrame, np.ndarray]:
    """The distinct QI tuples of ``df`` (sorted, NULLs last) and their row
    counts. The limit keeps an oversized table off the driver inside the
    same job; it never cuts a table the fit accepts."""
    table = (
        df.groupBy(*qi)
        .agg(F.count(F.lit(1)).alias(_WEIGHT))
        .limit(MAX_QI_TUPLES + 1)
        .toPandas()
    )
    if len(table) > MAX_QI_TUPLES:
        raise QITupleLimitError(
            f"more than {MAX_QI_TUPLES} distinct QI tuples over {list(qi)}: bin the "
            "QIs first (e.g. functions.binning.bin_equal_width) to cluster on the driver"
        )
    table = table.sort_values(list(qi), na_position="last", ignore_index=True)
    return table[list(qi)], table[_WEIGHT].to_numpy(dtype=np.int64)


def _encode(keys: pd.DataFrame, string_cols: set[str]) -> np.ndarray:
    """Feature matrix of the tuples: a string QI is its alphabetAsc rank
    among the non-NULL values, NULL → ``n_labels``; a numeric QI is its
    value."""
    cols = []
    for c in keys.columns:
        codes, values = pd.factorize(keys[c].to_numpy(), sort=True)
        if c in string_cols:
            cols.append(np.where(codes >= 0, codes, len(values)).astype(np.float64))
        elif (codes < 0).any():
            raise NullQIError(
                f"numeric QI {c!r} holds NULL or NaN: drop or impute those rows before clustering"
            )
        else:
            cols.append(np.asarray(values, dtype=np.float64)[codes])
    return np.column_stack(cols)


def _standardize(x: np.ndarray, w: np.ndarray) -> np.ndarray:
    """Subtract the weighted mean, divide by the weighted SAMPLE std; a
    feature with zero std maps to 0 (StandardScaler withMean, withStd)."""
    n = w.sum()
    mean = (w[:, None] * x).sum(axis=0) / n
    dev = x - mean
    var = (w[:, None] * dev * dev).sum(axis=0) / (n - 1) if n > 1 else np.zeros(x.shape[1])
    std = np.sqrt(var)
    return np.divide(dev, std, out=np.zeros_like(dev), where=std > 0)


def _sqdist(x: np.ndarray, centers: np.ndarray) -> np.ndarray:
    """Squared distance of every point to every center, (points, centers)."""
    d2 = np.zeros((len(x), len(centers)))
    for j in range(x.shape[1]):
        d2 += (x[:, j, None] - centers[None, :, j]) ** 2
    return d2


def _kmeans(x: np.ndarray, w: np.ndarray, k: int, seed: int) -> np.ndarray:
    """Cluster of each point of ``x`` (weights ``w``): seeded weighted
    k-means++ then Lloyd. Fewer than ``k`` distinct points give fewer
    clusters; a center that loses all its points stays where it is."""
    rng = np.random.default_rng(seed)

    def draw(mass: np.ndarray) -> int:
        cum = np.cumsum(mass)
        return min(int(np.searchsorted(cum, rng.random() * cum[-1], side="right")), len(x) - 1)

    centers = x[[draw(w)]]
    d2 = _sqdist(x, centers)[:, 0]
    while len(centers) < k and (w * d2).sum() > 0:
        new = x[[draw(w * d2)]]
        centers = np.vstack([centers, new])
        d2 = np.minimum(d2, _sqdist(x, new)[:, 0])
    for _ in range(MAX_ITER):
        label = _sqdist(x, centers).argmin(axis=1)
        mass = np.bincount(label, weights=w, minlength=len(centers))
        moved = centers.copy()
        for j in range(x.shape[1]):
            total = np.bincount(label, weights=w * x[:, j], minlength=len(centers))
            np.divide(total, mass, out=moved[:, j], where=mass > 0)
        converged = (((moved - centers) ** 2).sum(axis=1) <= TOL * TOL).all()
        centers = moved
        if converged:
            break
    return _sqdist(x, centers).argmin(axis=1).astype(np.int32)


def _weighted_kmeans(raw: np.ndarray, w: np.ndarray, k: int, seed: int) -> np.ndarray:
    """The fit: standardize the encoded features, then cluster them."""
    if len(raw) == 0:
        return np.zeros(0, dtype=np.int32)
    return _kmeans(_standardize(raw, w), w, k, seed)


def fit_clusters(
    df: DataFrame,
    qi: Sequence[str],
    n_clusters: int = 10,
    seed: int = 42,
) -> ClusterFit:
    """Fit KMeans on the weighted QI-tuple table of ``df`` (reference
    ``clustering-anon.py:41-48``). Runs the tuple aggregation; everything
    after it is driver-side."""
    if n_clusters < 1:
        raise ValueError(f"n_clusters must be >= 1, got {n_clusters}")
    qi = tuple(qi)
    keys, weight = _tuple_table(df, qi)
    strings = {c for c, t in df.dtypes if t == "string"}
    label = _weighted_kmeans(_encode(keys, strings), weight, n_clusters, seed)
    return ClusterFit(df, qi, keys, weight, label)


def cluster_assign(
    df: DataFrame,
    qi: Sequence[str],
    n_clusters: int = 10,
    seed: int = 42,
) -> DataFrame:
    """Fit KMeans on the (encoded, standardized) QI tuples; return ``df`` +
    ``cluster`` int column (reference ``clustering-anon.py:46-48``)."""
    return fit_clusters(df, qi, n_clusters, seed).clustered()


def cluster_anonymize(
    df: DataFrame,
    qi: Sequence[str],
    n_clusters: int = 10,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """C3 — returns (rows-with-cluster, generalization-table)."""
    fit = fit_clusters(df, qi, n_clusters, seed)
    return fit.clustered(), fit.generalization()


def encode_scale(
    df: DataFrame,
    qi: Sequence[str],
    id_col: str,
    money_cols: Sequence[str] = (),
    round_to: int = 9,
) -> DataFrame:
    """C3's deterministic encode/standardize PREFIX as an oracle-checkable
    relation (reference ``clustering-anon.py:41-45``): label-encode string
    QIs exactly like :func:`cluster_assign` (StringIndexer
    ``alphabetAsc`` — index = 0-based rank of the value among the sorted
    distinct values), then standardize every feature like it
    (StandardScaler ``withMean=True, withStd=True`` — subtract the mean,
    divide by the SAMPLE std). Only the KMeans step after this projection
    is genuinely non-SQL (rows-only by the SURVEY §2 contract); splitting
    the prefix out shrinks the unchecked surface to the solver alone.

    Output: ``(id_col, <c>_idx for each string QI, <c>_scaled_r for every
    QI)`` — scaled values at 9 dp. Rows with a NULL string QI are
    DROPPED (dictionary excludes NULL + inner join), mirroring
    StringIndexer's default ``handleInvalid="error"`` refusal to encode
    NULL — they never reach the moments either.

    Cross-engine exactness: every feature is first mapped to an exact
    int64 domain (string → dictionary index, ``money_cols`` → cents via
    ``round(x*100)``, ints as-is), so the sufficient statistics
    ``(n, Σx, Σx²)`` are exact integer sums whatever the partial-agg
    order; mean/std/scaled are then single fixed IEEE expressions over
    those integers. Standardization is scale-invariant, so the cents
    domain releases the same scaled values as the raw-dollars MLlib
    pipeline (pinned against the real StringIndexer+StandardScaler
    stages in pytest at rtol 1e-6). Int64 bound: Σx² stays exact below
    ~9e18 / max(x²) rows (documented, the x191 class).

    Scale shape (100 TB): the dictionary is a distinct over the string
    QI (metadata-sized, broadcast back); the moments are ONE map-side
    partially-combined aggregation; scaling is a map-only projection
    against the broadcast 1-row moment relation. No UDFs, no MLlib —
    whole-stage codegen end to end.
    """
    from pyspark.sql import Window

    work = df
    int_cols: list[tuple[str, str]] = []  # (qi name, int64 working col)
    idx_out: list[str] = []
    for c in qi:
        dt = dict(df.dtypes)[c]
        if dt == "string":
            # NULLs are excluded from the dictionary: Spark's ascending
            # window ranks NULL FIRST (shifting every real label's index
            # off the documented StringIndexer(alphabetAsc) parity) while
            # DuckDB's DENSE_RANK ranks NULL LAST — and StringIndexer's
            # default handleInvalid="error" rejects NULLs outright. The
            # inner join below then drops NULL-QI rows from the output
            # AND the moments, which is the documented contract: rows
            # with a NULL string QI are not encodable (round-8 advisory).
            dict_rel = (
                df.select(F.col(c)).where(F.col(c).isNotNull()).distinct()
                .withColumn(
                    f"{c}_idx",
                    (F.dense_rank().over(Window.orderBy(F.col(c))) - 1).cast("long"),
                )
            )
            work = work.join(F.broadcast(dict_rel), on=c)
            int_cols.append((c, f"{c}_idx"))
            idx_out.append(f"{c}_idx")
        elif c in money_cols:
            work = work.withColumn(
                f"__i_{c}", F.round(F.col(c) * 100.0, 0).cast("long")
            )
            int_cols.append((c, f"__i_{c}"))
        else:
            work = work.withColumn(f"__i_{c}", F.col(c).cast("long"))
            int_cols.append((c, f"__i_{c}"))
    moments = work.agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        *[
            a
            for _, ic in int_cols
            for a in (
                F.sum(ic).cast("long").alias(f"__s1_{ic}"),
                F.sum(F.col(ic) * F.col(ic)).cast("long").alias(f"__s2_{ic}"),
            )
        ],
    )
    scaled = work.join(F.broadcast(moments))
    nd = F.col("__n").cast("double")
    outs = [F.col(id_col)] + [F.col(c) for c in idx_out]
    for c, ic in int_cols:
        s1 = F.col(f"__s1_{ic}").cast("double")
        s2 = F.col(f"__s2_{ic}").cast("double")
        mean = s1 / nd
        var = (s2 - s1 * s1 / nd) / (nd - F.lit(1.0))
        std = F.sqrt(var)
        outs.append(
            F.round(
                F.when(std > 0.0, (F.col(ic).cast("double") - mean) / std).otherwise(
                    F.lit(0.0)
                ),
                round_to,
            ).alias(f"{c}_scaled_r")
        )
    return scaled.select(*outs)
