"""End-to-end pipeline composites — one per reference entry point.

A user of the reference runs three scripts top-to-bottom; each function
here is the Spark-native equivalent of one script (SURVEY §3.1-§3.3),
returning the anonymized relation plus a single-row metrics relation with
the same metric definitions the script prints. Everything stays lazy; the
metrics row is the only thing a caller should collect.

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

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbms_data_anonymity_differential_privacy_spark.functions.binning import bin_equal_width
from dbms_data_anonymity_differential_privacy_spark.operators.clustering import cluster_anonymize
from dbms_data_anonymity_differential_privacy_spark.operators.kanonymity import class_sizes
from dbms_data_anonymity_differential_privacy_spark.operators.metrics import _ncp_expr, ncp
from dbms_data_anonymity_differential_privacy_spark.operators.tcloseness import (
    ROUND_DP as _ROUND_DP,
    _emd_from_counts,
    _verdict_keys,
    _violation_row,
)
from dbms_data_anonymity_differential_privacy_spark.operators.util import track_cached

ROUND_DP = 9


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
    anon = track_cached(anon.persist())

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
    """
    clustered, generalized = cluster_anonymize(df, qi, n_clusters, seed)
    # The clustered relation feeds every metric below; its lineage contains
    # an MLlib model transform → always worth pinning.
    clustered = track_cached(clustered.persist())

    # every metric but NCP from ONE aggregation over the cluster sizes:
    # reid_risk telescopes to n_clusters / n_rows (operators.metrics.
    # reid_risk), and the rows in clusters < k are those clusters' sizes
    size = F.col("class_size")
    n_rows = F.sum(size)
    per_cluster = class_sizes(clustered, ["cluster"]).agg(
        (F.min(size) >= k).alias("k_satisfied"),
        F.round(
            F.sum(F.when(size == 1, 1).otherwise(0)) / F.lit(n_clusters), ROUND_DP
        ).alias("uniqueness_rate"),
        F.round(F.count(F.lit(1)) / n_rows, ROUND_DP).alias("reid_risk"),
        F.round(
            F.sum(F.when(size < k, size).otherwise(0)) / n_rows, ROUND_DP
        ).alias("suppression_rate"),
    )
    # NCP with the generalization table as the anonymized side (:85-88).
    metrics = per_cluster.crossJoin(F.broadcast(ncp(clustered, generalized, qi)))
    return {"anonymized": clustered, "generalization": generalized, "metrics": metrics}


def corpus_curation_pipeline(
    df: DataFrame,
    min_quality: float = 0.05,
    langs: Sequence[str] = ("en", "de", "fr", "es", "zh"),
    min_tokens: int = 5,
    max_tokens: int = 100_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict[str, DataFrame]:
    """Training-data curation composite (north-star pipeline, no reference
    analog): exact fingerprint dedup → text-feature annotation → language /
    quality / length gates → per-language corpus stats.

    Physical shape at 100 TB: the dedup is ONE hash-partition shuffle on
    the 16-byte fingerprint; everything after is a map-only projection
    (features + filters are pure JVM expressions, no UDF) feeding one
    partial-aggregated stats rollup. Filters sit directly on the scan side
    of the shuffle's output, so the curated relation never re-shuffles.

    Returns ``{"curated": rows, "stats": per-language rollup}``.
    """
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import dedup_by_fingerprint
    from dbms_data_anonymity_differential_privacy_spark.operators.text import with_text_features

    deduped = dedup_by_fingerprint(df, text_col, id_col)
    feats = with_text_features(deduped, text_col)
    kept = feats.filter(
        F.col("lang_pred").isin(list(langs))
        & (F.col("quality") >= F.lit(min_quality))
        & F.col("n_tokens").between(min_tokens, max_tokens)
    )
    stats = kept.groupBy("lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("quality"), 9).alias("avg_quality"),
    )
    return {"curated": kept, "stats": stats}


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
    # them once; the join strategy is Spark's (threshold + AQE)
    ok = track_cached(_verdict_keys(counts, eff_qi, sensitive, k, t, mode).persist())
    post_counts = track_cached(counts.join(ok, on=eff_qi, how="left_semi").persist())
    anon = track_cached(work.join(ok, on=eff_qi, how="left_semi").persist())

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


def training_export_plan(
    docs: DataFrame,
    n_shards: int = 8,
    gopher_thresholds: Mapping | None = None,
    salt: str = "export",
) -> DataFrame:
    """End-to-end training-export composite: clean → quality gate →
    exact dedup → deterministic shard plan.

    The full curation funnel a 100 TB pretraining export runs, stitched
    from the engine's own operators so every stage keeps its verified
    semantics (each has its own oracle row; this composite has one too):

    1. ``clean.clean_text`` — markup/control/whitespace normalization
       (map-only);
    2. ``quality.gopher_quality`` — Rae et al. shape rules over the
       CLEANED text, ``lang`` carried through ``keep_cols`` so the gate is
       ONE projection (map-only);
    3. ``dedup.dedup_by_fingerprint`` — exact content dedup on the
       normalized md5 fingerprint (the pipeline's single fact shuffle);
    4. ``sampling.assign_shards`` — content-hash shard + sort key
       (map-only).

    Returns the per-(shard, lang) plan relation ``(shard, lang, n_docs,
    total_tokens)`` — the relation an export coordinator uses to size
    writer tasks; feed the same surviving rows to
    ``sources.writers.write_training_shards`` for the physical layout.
    Physical shape: one map-only funnel + the dedup shuffle + one
    partial-agg rollup; nothing rescans the corpus.
    """
    from dbms_data_anonymity_differential_privacy_spark.operators.clean import clean_text
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import dedup_by_fingerprint
    from dbms_data_anonymity_differential_privacy_spark.operators.quality import gopher_quality
    from dbms_data_anonymity_differential_privacy_spark.operators.sampling import assign_shards
    from dbms_data_anonymity_differential_privacy_spark.operators.util import fan_out

    # Fan out BEFORE the clean projection: a projection composed under a
    # later repartition stays below that exchange, so a narrow (one-file)
    # scan would run every clean/gate regex single-threaded. No-op at real
    # scale (scan already has >= cores splits).
    cleaned = fan_out(docs.select("doc_id", "lang", "text")).select(
        "doc_id", "lang", clean_text(F.col("text")).alias("text")
    )
    gated = gopher_quality(
        cleaned, thresholds=dict(gopher_thresholds or {}), keep_cols=("lang", "text")
    )
    kept = gated.filter(F.col("pass_gopher")).select("doc_id", "lang", "text", "n_tokens")
    deduped = dedup_by_fingerprint(kept)
    sharded = assign_shards(deduped, ["doc_id"], n_shards, salt=salt)
    return sharded.groupBy("shard", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


def event_analytics_summary(events: DataFrame) -> DataFrame:
    """pipe_event_analytics — the product-analytics dashboard as ONE
    oracle-checkable row, composing the session's event operators the way
    a user would: funnel conversion (X54), next-week retention (X55),
    dominant flow transition (X72), and the busiest hour of day.

    Every input to the row is a kilobyte relation derived from its own
    already-oracle-checked operator; the composition is cross-joins of
    single-row aggregates (broadcast nested-loop over literal rows — no
    fact-table cost beyond the operators' own single shuffles).

    Output (single row): ``(n_events, n_users, signup_users,
    click_rate_r, purchase_rate_r, week1_retention_r, top_from, top_to,
    top_p_r, busiest_hour, busiest_hour_events)``.
    """
    from dbms_data_anonymity_differential_privacy_spark.operators.funnel import (
        funnel,
        retention_cohorts,
    )
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import transition_matrix

    totals = events.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )

    fun = funnel(events, ["signup", "click", "purchase"])
    fun_row = fun.agg(
        F.max(F.when(F.col("step") == 1, F.col("users"))).alias("signup_users"),
        F.round(
            F.max(F.when(F.col("step") == 2, F.col("users"))).cast("double")
            / F.max(F.when(F.col("step") == 1, F.col("users"))).cast("double"),
            9,
        ).alias("click_rate_r"),
        F.round(
            F.max(F.when(F.col("step") == 3, F.col("users"))).cast("double")
            / F.max(F.when(F.col("step") == 1, F.col("users"))).cast("double"),
            9,
        ).alias("purchase_rate_r"),
    )

    ret = retention_cohorts(events)
    ret_row = ret.agg(
        F.round(
            F.sum(F.when(F.col("period_offset") == 1, F.col("active_users"))).cast("double")
            / F.sum(F.when(F.col("period_offset") == 0, F.col("active_users"))).cast(
                "double"
            ),
            9,
        ).alias("week1_retention_r")
    )

    trans = transition_matrix(events)
    top_row = (
        trans.orderBy(F.col("cnt").desc(), F.col("from_type").asc(), F.col("to_type").asc())
        .limit(1)
        .select(
            F.col("from_type").alias("top_from"),
            F.col("to_type").alias("top_to"),
            F.col("p_r").alias("top_p_r"),
        )
    )

    busy = (
        events.groupBy(F.hour("ts").alias("busiest_hour"))
        .agg(F.count(F.lit(1)).alias("busiest_hour_events"))
        .orderBy(F.col("busiest_hour_events").desc(), F.col("busiest_hour").asc())
        .limit(1)
    )

    return (
        totals.crossJoin(fun_row)
        .crossJoin(ret_row)
        .crossJoin(top_row)
        .crossJoin(busy)
    )


def private_export_plan(
    docs: DataFrame,
    n_shards: int = 8,
    gopher_thresholds: Mapping | None = None,
    salt: str = "pexport",
) -> DataFrame:
    """pipe_private_export — the privacy-aware variant of
    :func:`training_export_plan`: the same clean → gate → dedup → shard
    funnel with a PII-redaction stage spliced in after cleaning, plus
    per-cell redaction accounting — the export a privacy review signs off
    on ("no raw emails/SSNs/phones leave, and show me how many were
    scrubbed where").

    Stages (each keeps its own oracle-verified semantics):
    clean_text → redact_pii (typed placeholders, counted per doc) →
    gopher gate over the REDACTED text (so placeholder tokens face the
    same shape rules the model will see) → fingerprint dedup on redacted
    content → shard plan rollup carrying ``n_docs_redacted``.

    Same physical shape as the base pipeline: ONE map-only funnel (clean
    + redact + gate are a single fused projection chain), the one dedup
    shuffle, one partial-agg rollup.

    Output: ``(shard, lang, n_docs, total_tokens, n_docs_redacted)``.
    """
    from dbms_data_anonymity_differential_privacy_spark.operators.clean import clean_text
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import dedup_by_fingerprint
    from dbms_data_anonymity_differential_privacy_spark.operators.pii import redact_pii
    from dbms_data_anonymity_differential_privacy_spark.operators.quality import gopher_quality
    from dbms_data_anonymity_differential_privacy_spark.operators.sampling import assign_shards
    from dbms_data_anonymity_differential_privacy_spark.operators.util import fan_out

    cleaned = fan_out(docs.select("doc_id", "lang", "text")).select(
        "doc_id", "lang", clean_text(F.col("text")).alias("__clean")
    )
    redacted = cleaned.select(
        "doc_id",
        "lang",
        redact_pii(F.col("__clean")).alias("text"),
        (redact_pii(F.col("__clean")) != F.col("__clean")).cast("long").alias("__redacted"),
    )
    gated = gopher_quality(
        redacted,
        thresholds=dict(gopher_thresholds or {}),
        keep_cols=("lang", "text", "__redacted"),
    )
    kept = gated.filter(F.col("pass_gopher")).select(
        "doc_id", "lang", "text", "n_tokens", "__redacted"
    )
    deduped = dedup_by_fingerprint(kept)
    sharded = assign_shards(deduped, ["doc_id"], n_shards, salt=salt)
    return sharded.groupBy("shard", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("__redacted").cast("long").alias("n_docs_redacted"),
    )


def corpus_datasheet(docs: DataFrame, gopher_thresholds: dict | None = None) -> DataFrame:
    """pipe_corpus_datasheet — the dataset card as ONE oracle-checkable
    row: the summary every corpus release ships (Gebru et al.,
    "Datasheets for Datasets"), composed from the engine's own text
    operators the way a curation pipeline would emit it.

    Fields: volume (docs, chars, tokens), language spread (distinct
    langs, dominant lang + share), exact-duplication rate (fingerprint
    distinct count), Gopher-gate pass rate, and mean heuristic quality.

    Physical shape: ONE map-only projection (token count, fingerprint,
    quality score, Gopher verdict fused per row — they share the scan)
    feeding ONE aggregation; the language mode is a second,
    langs-sized aggregation; the row assembles by cross-joining
    single-row relations (broadcast literal rows).

    Output (single row): ``(n_docs, total_chars, total_tokens, n_langs,
    dup_rate_r, gopher_pass_rate_r, mean_quality_r, top_lang,
    top_lang_share_r)``.
    """
    from dbms_data_anonymity_differential_privacy_spark.operators.quality import gopher_quality
    from dbms_data_anonymity_differential_privacy_spark.operators.text import (
        fingerprint,
        quality_score,
        token_count,
    )

    enriched = gopher_quality(
        docs, keep_cols=("lang", "text"), thresholds=gopher_thresholds
    ).select(
        "lang",
        F.length("text").alias("__chars"),
        token_count(F.col("text")).alias("__toks"),
        fingerprint(F.col("text")).alias("__fp"),
        quality_score(F.col("text")).alias("__q"),
        "pass_gopher",
    )
    totals = enriched.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__chars").alias("total_chars"),
        F.sum("__toks").alias("total_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.round(
            1.0 - F.countDistinct("__fp").cast("double") / F.count(F.lit(1)),
            9,
        ).alias("dup_rate_r"),
        F.round(
            F.sum(F.col("pass_gopher").cast("long")).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("gopher_pass_rate_r"),
        F.round(F.avg("__q"), 9).alias("mean_quality_r"),
    )
    top_lang = (
        enriched.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("__n"))
        .orderBy(F.col("__n").desc(), F.col("lang").asc())
        .limit(1)
        .select(F.col("lang").alias("top_lang"), F.col("__n").alias("__top_n"))
    )
    return (
        totals.crossJoin(top_lang)
        .withColumn(
            "top_lang_share_r",
            F.round(F.col("__top_n").cast("double") / F.col("n_docs"), 9),
        )
        .drop("__top_n")
    )


def graph_insights(edges: DataFrame, pr_iters: int = 10, lp_iters: int = 3) -> DataFrame:
    """Composite graph-analytics release: build the edge relation ONCE
    and fan it to integer PageRank (importance) and label-propagation
    (community), joined into one per-node relation — the single-output
    "graph datasheet" a curation pipeline attaches to an entity graph.

    The directed PageRank runs over both orientations of the undirected
    edge set (same convention as x164's TextRank), so rank mass follows
    co-occurrence symmetrically. Persisting the slim edge list means the
    two analyses share one upstream build; both inherit the pagerank/LPA
    hybrid driver fast paths for metadata-scale graphs.

    Output: ``(node, rank_ppb, community, community_size)``.
    """
    from pyspark.sql import functions as F

    from .operators.graph import label_propagation, pagerank_int

    slim = edges.select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    ).persist()
    slim.count()
    both = slim.unionAll(
        slim.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    pr = pagerank_int(both, iters=pr_iters)
    lp = label_propagation(slim, iters=lp_iters)
    sizes = lp.groupBy("community").agg(
        F.count(F.lit(1)).cast("long").alias("community_size")
    )
    out = (
        pr.join(lp, on="node")
        .join(F.broadcast(sizes), on="community")
        .select("node", "rank_ppb", "community", "community_size")
    )
    slim.unpersist()
    return out
