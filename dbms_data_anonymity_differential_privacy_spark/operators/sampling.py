"""Deterministic sampling / split operators for training-data pipelines.

The reference has no sampling (it always processes the full Adult table,
``naive-suppresion.py:13-20``); its only randomness is the seeded 70/30
``train_test_split`` inside the utility harness (``naive-suppresion.py:104``,
``t-closeness.py:160``). A 100 TB curation pipeline, by contrast, constantly
needs *reproducible* subsets: train/val/test splits, per-language quotas,
audit samples. ``df.sample()`` is the wrong tool for that — its output
depends on partition layout, so AQE re-planning or a repartition changes the
sample.

Everything here derives membership from a *content hash of the row key*, so:

- the same row lands in the same split on every run, on any cluster layout,
  on any engine (the hash is portable SQL — md5 over the '|'-joined key —
  which is exactly what makes these operators DuckDB-oracle-checkable);
- sampling is a map-only predicate: no shuffle, codegen-friendly, and the
  scan still gets column pruning (the hash reads only the key columns);
- adding data never reassigns existing rows (per-row decision, no global
  state).

Hash choice: the first 8 hex chars of md5 give a uniform draw over 16^8
values, compared lexicographically against a threshold string — string
comparison of fixed-width lowercase hex is byte-wise identical across
engines. md5 costs ~1 digest per row; at 100 TB swap ``_hash_hex`` for
``xxhash64`` (JVM-native, ~10x cheaper) when cross-engine reproducibility
is not required — the operator contract is unchanged.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_SPACE = 16**8  # 8 hex chars of uniform hash


def _hash_hex(key_cols: Sequence[str], salt: str) -> Column:
    """Uniform 8-hex-char draw from the row key: substr(md5(key||salt), 1, 8).

    The key is '|'-joined after casting to string (same canonicalization an
    oracle can do in SQL). ``salt`` decorrelates independent draws over the
    same key — two samples with different salts are independent.
    """
    joined = F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols], F.lit(salt))
    return F.substring(F.md5(joined.cast("binary")), 1, 8)


def _threshold_hex(fraction: float) -> str:
    """Threshold string t such that P[hash < t] == round(fraction * 16^8) / 16^8."""
    n = max(0, min(_SPACE, round(fraction * _SPACE)))
    return format(n, "08x") if n < _SPACE else "g"  # 'g' > 'f...f': accepts all


def hash_sample(
    df: DataFrame, key_cols: Sequence[str], fraction: float, salt: str = ""
) -> DataFrame:
    """Keep a deterministic ``fraction`` of rows, decided per row key.

    Map-only filter — no shuffle, stable under any partitioning, and
    repeatable across runs/engines. Distinct salts give independent samples;
    nested fractions with the same salt give *nested* samples
    (``hash_sample(f1)`` ⊇ ``hash_sample(f2)`` for f1 ≥ f2), which is what
    you want for growing eval sets.
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return df.filter(_hash_hex(key_cols, salt) < F.lit(_threshold_hex(fraction)))


def hash_split(
    df: DataFrame,
    key_cols: Sequence[str],
    splits: Sequence[tuple[str, float]],
    salt: str = "",
    split_col: str = "split",
) -> DataFrame:
    """Assign every row to one named split (train/valid/test, ...) by key hash.

    ``splits`` is ``[(label, fraction), ...]``; fractions must sum to ≤ 1
    (+eps). Rows above the cumulative threshold — present only when the sum
    is < 1 — get NULL. One map-only projection; the split column is then an
    ordinary partition/filter column downstream.
    """
    fracs = [f for _, f in splits]
    if any(f < 0 for f in fracs) or sum(fracs) > 1.0 + 1e-9:
        raise ValueError(f"split fractions must be >= 0 and sum to <= 1, got {fracs}")
    h = _hash_hex(key_cols, salt)
    expr: Column | None = None
    cum = 0.0
    for label, frac in splits:
        cum += frac
        cond = h < F.lit(_threshold_hex(cum))
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(cond, F.lit(label))
    assert expr is not None
    return df.withColumn(split_col, expr)


def stratified_sample_n(
    df: DataFrame,
    strata_cols: Sequence[str],
    key_cols: Sequence[str],
    n_per_stratum: int,
    salt: str = "",
) -> DataFrame:
    """Exactly ``min(n, |stratum|)`` rows per stratum, chosen by key hash.

    Deterministic quota sampling (per-language / per-source caps in a
    curation pipeline). One shuffle on the strata key; within each stratum
    rows are ranked by (hash, key) — the key tiebreak makes the selection
    total even under 8-hex-char hash collisions.

    At 100 TB the window ranks each stratum on a single task; for quotas
    over *skewed* strata (one stratum ≫ executor memory) pre-filter with
    ``hash_sample`` at a generous fraction first (cheap map-only pass that
    bounds per-stratum rows before the rank) — the composition stays exact
    as long as the pre-filter keeps ≥ n rows per stratum.
    """
    if n_per_stratum < 0:
        raise ValueError("n_per_stratum must be >= 0")
    order = [_hash_hex(key_cols, salt).asc()] + [F.col(c).asc() for c in key_cols]
    w = Window.partitionBy(*[F.col(c) for c in strata_cols]).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= F.lit(int(n_per_stratum)))
        .drop("__rn")
    )


def assign_shards(
    df: DataFrame,
    key_cols: Sequence[str],
    n_shards: int,
    salt: str = "",
    shard_col: str = "shard",
    sort_col: str = "sort_key",
) -> DataFrame:
    """X47 — deterministic training-shard assignment + intra-shard order.

    Training exports need (a) a fixed number of shards whose CONTENTS do
    not depend on cluster layout, and (b) a reproducible within-shard
    order (the "global shuffle" that training dataloaders assume was baked
    in at export time). Both derive from the same portable content hash
    the sampling operators use:

    - ``shard`` = equal-width bucket of the 32-bit hash space:
      ``(hash_int * n_shards) >> 32`` — pure 64-bit integer arithmetic
      (no float division anywhere, so no boundary rounding), identical in
      any engine, near-uniform shard sizes for any n_shards (no
      power-of-two requirement);
    - ``sort_key`` = the 8-hex-char hash itself; ordering by it inside a
      shard is a content-derived pseudo-random permutation, so
      sequentially-read shards still deliver i.i.d.-looking batches.

    Map-only (no shuffle here — a writer wanting one sorted file per
    shard repartitions by ``shard`` and sorts within it by ``sort_key``).
    Re-running on a grown corpus never moves an existing row to a
    different shard or changes its sort key: per-row decisions only.
    """
    if not 1 <= n_shards <= 1 << 20:
        raise ValueError("n_shards must be in [1, 2^20]")  # keeps hash*n in int64
    hex_hash = _hash_hex(key_cols, salt)
    hash_int = F.conv(hex_hash, 16, 10).cast("long")
    return df.withColumn(sort_col, hex_hash).withColumn(
        shard_col,
        F.shiftright(hash_int * F.lit(int(n_shards)), 32),
    )


def weighted_sample_n(
    df: DataFrame,
    key_cols: Sequence[str],
    weight_col: str,
    n: int,
    salt: str = "",
    key_out: str = "es_key",
) -> DataFrame:
    """X50 — deterministic weighted sampling without replacement (top-n).

    Efraimidis–Spirakis exponential race (IPL 2006): every row draws a
    content-hash uniform u ∈ (0, 1] and competes with key ``-ln(u) / w``;
    the n smallest keys win. This is EXACTLY weighted sampling without
    replacement (each round, P[row wins] ∝ its weight among survivors),
    but expressed as a stateless per-row key + one global top-n — no
    sequential passes, no rejection loops.

    Scale shape: the key is a map-only projection off the same portable
    md5 draw the other sampling operators use (layout- and
    engine-independent), and the top-n runs as TakeOrderedAndProject —
    per-partition partial heaps of n rows, one singleton reduce of the
    winners; the fact table is never sorted or shuffled. Deterministic:
    same corpus + salt → same sample on any cluster (and in the DuckDB
    oracle, which replays the identical arithmetic).

    Rows with NULL, zero, or negative weight can never win and are
    filtered out up front. Ties in the (continuous) key are broken by the
    key columns, making selection total.
    """
    if n < 0:
        raise ValueError("n must be >= 0")
    # u = (h + 1) / 2^32 over the 8-hex-char draw: exact power-of-two
    # division, u ∈ (0, 1] so ln(u) is finite. The single transcendental
    # (ln) is the only op that can differ across engines — by at most
    # 1 ulp — so the released key is rounded to 9 decimals on both sides
    # and selection ties at that granularity are broken by key columns.
    h = F.conv(_hash_hex(key_cols, salt), 16, 10).cast("long")
    u = (h + F.lit(1)).cast("double") / F.lit(float(_SPACE))
    w = F.col(weight_col).cast("double")
    key = -F.log(u) / w
    order = [F.col(key_out).asc()] + [F.col(c).asc() for c in key_cols]
    return (
        df.filter(w > 0)
        .withColumn(key_out, F.round(key, 9))
        .orderBy(*order)
        .limit(int(n))
    )


def stratified_split(
    df: DataFrame,
    strata_cols: Sequence[str],
    key_cols: Sequence[str],
    splits: Sequence[tuple[str, float]],
    salt: str = "",
    split_col: str = "split",
) -> DataFrame:
    """X84 — EXACT per-stratum proportional split: within each stratum,
    rows are totally ordered by (key hash, key) and the first
    ``floor(cum_frac * n)`` positions go to successive splits — so every
    stratum (language, source, label) lands exactly its quota in every
    split. :func:`hash_split` is proportional only in expectation (fine
    corpus-wide, off by whole rows for small strata — a 30-doc language
    can lose its val set entirely); this is the exact-quota contract
    eval-set construction needs.

    Deterministic across runs/engines/layouts (hash order, key tiebreak).
    One shuffle: the per-stratum window. At 100 TB a stratum ranks on one
    task — same caveat and same pre-filter remedy as
    :func:`stratified_sample_n`. When the fractions sum to 1 every row is
    assigned; any remainder (sum < 1) gets NULL.
    """
    fracs = [f for _, f in splits]
    if any(f < 0 for f in fracs) or sum(fracs) > 1.0 + 1e-9:
        raise ValueError(f"split fractions must be >= 0 and sum to <= 1, got {fracs}")
    h = _hash_hex(key_cols, salt)
    w = Window.partitionBy(*strata_cols).orderBy(
        h, *[F.col(c) for c in key_cols]
    )
    w_n = Window.partitionBy(*strata_cols)
    pos = F.row_number().over(w)
    n = F.count(F.lit(1)).over(w_n)
    expr: Column | None = None
    cum = 0.0
    for label, frac in splits:
        cum += frac
        cond = pos <= F.floor(n * F.lit(cum))
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(cond, F.lit(label))
    assert expr is not None
    return df.withColumn(split_col, expr)


def zorder_layout(
    df: DataFrame,
    cols: Sequence[str],
    bits: int = 8,
    out_col: str = "zkey",
) -> DataFrame:
    """X95 — Z-order (Morton) layout key over integer columns: equal-width
    bin each column into [0, 2^bits) and bit-interleave the bins — the
    lakehouse data-layout primitive (Delta/Iceberg OPTIMIZE ZORDER):
    sorting by this key before write co-locates rows that are close in
    EVERY listed dimension, so per-file min/max statistics prune scans on
    any of them, not just the first sort column.

    All arithmetic is integer-exact and engine-portable: binning is
    ``((v − min) · 2^bits) ÷ (max − min + 1)`` in BIGINT (one stats
    aggregate supplies the min/max literals — the BM25 corpus-stat
    convention), and the interleave is a fixed sum of shift-mask terms,
    codegen-friendly with no UDF. ``len(cols) · bits`` must stay ≤ 62.

    Output: input columns + ``out_col`` (BIGINT). Write path:
    ``df.repartitionByRange(n, out_col).sortWithinPartitions(out_col)``
    then write — one range shuffle, the same single-shuffle contract as
    the x47 shard export.
    """
    if not cols or len(cols) * bits > 62:
        raise ValueError("need 1+ columns with len(cols) * bits <= 62")
    stats = df.agg(
        *[F.min(c).alias(f"mn_{i}") for i, c in enumerate(cols)],
        *[F.max(c).alias(f"mx_{i}") for i, c in enumerate(cols)],
    ).first()
    nb = 1 << bits
    key = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        mn, mx = int(stats[f"mn_{j}"]), int(stats[f"mx_{j}"])
        span = mx - mn + 1
        binned = ((F.col(c).cast("long") - F.lit(mn)) * F.lit(nb)) / F.lit(span)
        binned = F.floor(binned).cast("long")
        for i in range(bits):
            bit = F.shiftright(binned, i).bitwiseAND(F.lit(1))
            key = key + bit * F.lit(1 << (len(cols) * i + j))
    return df.withColumn(out_col, key)


def zorder_layout_sql(
    table: str, cols: Sequence[str], keep: Sequence[str],
    bits: int = 8, out_col: str = "zkey",
) -> str:
    """DuckDB twin generator for :func:`zorder_layout` — identical
    binning and shift-mask interleave, with the min/max stats computed
    INLINE (a stats CTE) so the same SQL is correct at every scale
    factor, mirroring the runtime aggregate the engine performs."""
    nb = 1 << bits
    stats = ", ".join(
        f"MIN({c}) AS mn{j}, MAX({c}) AS mx{j}" for j, c in enumerate(cols)
    )
    terms = []
    for j, c in enumerate(cols):
        b = (
            f"CAST(FLOOR((CAST({c} AS BIGINT) - s.mn{j}) * {nb} "
            f"/ (s.mx{j} - s.mn{j} + 1)) AS BIGINT)"
        )
        for i in range(bits):
            terms.append(f"(({b} >> {i}) & 1) * {1 << (len(cols) * i + j)}")
    expr = " + ".join(terms)
    keep_cols = ", ".join(keep)
    return (
        f"WITH s AS (SELECT {stats} FROM {table}) "
        f"SELECT {keep_cols}, CAST({expr} AS BIGINT) AS {out_col} "
        f"FROM {table} CROSS JOIN s"
    )


# fixed multipliers for the deterministic negative-sampling hash
# (arbitrary primes; the same literals live in the oracle SQL)
NEG_A = 982_451_653
NEG_B = 179_424_673


def negative_samples(
    positives: DataFrame,
    user_col: str,
    item_col: str,
    item_dim: DataFrame,
    dim_item_col: str,
    k: int = 5,
    oversample: int = 4,
) -> DataFrame:
    """Deterministic negative sampling for implicit-feedback training
    (word2vec / BPR / two-tower recommenders): for every user, ``k``
    pseudo-random items the user did NOT interact with.

    Candidate ``j`` for user ``u`` is ``1 + (u*NEG_A + j*NEG_B) mod N``
    (N = |item_dim|), j = 1..k*oversample; candidates that miss the item
    dimension or collide with a positive are dropped, duplicates keep
    their smallest j, and the first k per user (by j, then item) win.
    Fully integer and salt-free, so resampling a grown corpus is
    reproducible — the property hash_sample gives row sampling, applied
    to the negatives problem.

    Overflow discipline (the r6 Bloom-hash lesson, applied here after
    the sf1 inflation caught the same bug): the user id is reduced
    ``mod N`` BEFORE the multiply — mathematically identical for every
    u (modular arithmetic), value-identical at all scales, and keeps
    the product under 2^63 for any int64 user id as long as
    ``N < 2^63 / NEG_A ≈ 9.4e9`` (an item DIMENSION beyond nine billion
    rows is outside this operator's design range; raise N's hash width
    before raising that bound).

    Scale shape: candidate generation is a map-only sequence+explode off
    the distinct-user relation; the existence check joins the item
    dimension on the item key; the positive knock-out is one anti-join
    hash-partitioned on (user, item) — the same key the positives
    relation naturally groups by. No per-user collect, no rand().

    Output: ``(user_col, item_col, rnk)``, rnk in [1, k].
    """
    if k < 1 or oversample < 1:
        raise ValueError("k and oversample must be >= 1")
    n_items = item_dim.count()
    users = positives.select(F.col(user_col).alias("__u")).distinct()
    cand = users.select(
        "__u", F.explode(F.sequence(F.lit(1), F.lit(k * oversample))).alias("__j")
    ).select(
        "__u",
        "__j",
        (
            F.lit(1).cast("long")
            + (
                (F.col("__u").cast("long") % F.lit(int(n_items))) * F.lit(NEG_A)
                + F.col("__j").cast("long") * F.lit(NEG_B)
            )
            % F.lit(int(n_items))
        ).alias("__i"),
    )
    existing = cand.join(
        item_dim.select(F.col(dim_item_col).alias("__i")), on="__i"
    )
    pos = positives.select(
        F.col(user_col).alias("__u"), F.col(item_col).alias("__i")
    ).distinct()
    negs = (
        existing.join(pos, on=["__u", "__i"], how="left_anti")
        .groupBy("__u", "__i")
        .agg(F.min("__j").alias("__j"))
    )
    w = Window.partitionBy("__u").orderBy("__j", "__i")
    return (
        negs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            F.col("__u").alias(user_col),
            F.col("__i").alias(item_col),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    total_budget: int,
) -> DataFrame:
    """X231 — Neyman-optimal stratified sample allocation (Neyman 1934):
    given a sampling budget, allocate draws across strata proportional
    to ``N_h · σ_h`` — the allocation that minimizes the variance of the
    stratified mean estimator. The planning step in front of every
    stratified evaluation run (x101's stratified sampling executes a
    plan; this computes the optimal one): big, noisy strata get more
    budget; small or homogeneous strata get less than proportional.

    Cross-engine exactness: per-stratum ``Σx`` and ``Σx²`` are sorted
    in-row folds over the stratum's values (the x04/x224 contract —
    bit-identical to DuckDB's ``list_reduce(list_sort(...))``), the
    sample std is one fixed IEEE expression over them, the normalizer
    ``Σ_h N_h σ_h`` folds the per-stratum products in sorted order, and
    the released allocation is ``round(budget · weight)`` — half-up on
    positives in both engines. Allocations are RAW rounded weights
    (they can sum to budget ± #strata; the exact-total variant is one
    largest-remainder pass away, the x223 machinery) — documented so
    the release is a pure per-stratum function, join-free to audit.
    Zero-variance or singleton strata carry σ_h = 0 and draw no budget.

    Output: ``(stratum, n_rows, sd_r, weight_r, n_alloc)`` per stratum
    at 9 dp.

    Scale shape (100 TB): one fact aggregation per stratum (the fold
    arrays bound memory by stratum size — pre-aggregate or swap to
    plain sums past the x224 threshold, same documented trade), one
    strata-sized rollup for the normalizer, one broadcast join back.
    """
    if total_budget < 0:
        raise ValueError("total_budget must be >= 0")
    # NULL values carry no sigma information and DuckDB's list() keeps
    # NULLs where collect_list drops them — exclude rows with NULL value
    # or stratum on both engines (fuzz-oracle finding, r10)
    df = df.filter(F.col(value_col).isNotNull() & F.col(stratum_col).isNotNull())
    per = df.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.expr(
            f"aggregate(array_sort(collect_list(CAST({value_col} AS DOUBLE))),"
            " CAST(0.0 AS DOUBLE), (a, b) -> a + b)"
        ).alias("__sx"),
        F.expr(
            f"aggregate(array_sort(collect_list(CAST({value_col} AS DOUBLE)"
            f" * CAST({value_col} AS DOUBLE))),"
            " CAST(0.0 AS DOUBLE), (a, b) -> a + b)"
        ).alias("__sxx"),
    )
    nd = F.col("n_rows").cast("double")
    var = F.when(
        F.col("n_rows") > 1,
        (F.col("__sxx") - F.col("__sx") * F.col("__sx") / nd) / (nd - F.lit(1.0)),
    ).otherwise(F.lit(0.0))
    # staged feeds the normalizer AND the release — persist the
    # strata-sized relation (ledger-tracked) so the per-stratum fold
    # aggregation runs once
    from dbms_data_anonymity_differential_privacy_spark.operators.util import track_cached

    staged = track_cached(
        per.select(
            "stratum",
            "n_rows",
            F.sqrt(F.greatest(var, F.lit(0.0))).alias("__sd"),
        )
        .withColumn("__w", F.col("n_rows").cast("double") * F.col("__sd"))
        .persist()
    )
    norm = staged.agg(
        F.expr(
            "aggregate(array_sort(collect_list(__w)), CAST(0.0 AS DOUBLE),"
            " (a, b) -> a + b)"
        ).alias("__norm")
    )
    out = staged.join(F.broadcast(norm))
    weight = F.when(F.col("__norm") > 0, F.col("__w") / F.col("__norm")).otherwise(
        F.lit(0.0)
    )
    return out.select(
        "stratum",
        "n_rows",
        F.round("__sd", 9).alias("sd_r"),
        F.round(weight, 9).alias("weight_r"),
        F.round(F.lit(float(total_budget)) * weight, 0)
        .cast("long")
        .alias("n_alloc"),
    )
