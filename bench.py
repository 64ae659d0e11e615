"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with the noop sink (full computation, no
result serialization overhead measured). A small warmup query first so JVM
/ codegen startup isn't billed to the first workload.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dbms_data_anonymity_differential_privacy_spark import get_spark  # noqa: E402
from dbms_data_anonymity_differential_privacy_spark.operators.util import (  # noqa: E402
    release_cached_relations,
)
from dbms_data_anonymity_differential_privacy_spark import queries_registry as qr  # noqa: E402

# Headline set: one per workload family (suppression, audit/metrics,
# t-closeness EMD, dedup, similarity, text, DP, streaming-batch-twin).
HEADLINE = [
    "c01_k_anonymize_suppress",
    "c02_k_anonymity_audit",
    "c05_reid_risk",
    "c04_t_closeness_strict",
    "c09_t_violations",
    "pipe_naive_metrics",
    "pipe_tcloseness_metrics",
    "x01_dp_count",
    "x01_dp_histogram",
    "x02_dedup_exact",
    "x02_dedup_fingerprint",
    "x03_ngram_jaccard",
    "x03_minhash_lsh",
    "x03_simhash",
    "x04_cosine_topk",
    "x04_cosine_pairs",
    "x04_cosine_pairs_topm",
    "x04_cosine_pairs_topm_arrow",
    "x03_simhash_topm",
    "x05_text_stats",
    "x05_text_features",
    "x06_stream_window_kanon",
    "x06_kanon_gate",
    "x10_hash_split",
    "x11_sessionize",
    "x12_equal_freq_bin",
    "x13_pii_detect",
    "x14_repetition",
    "x18_contamination",
    "x19_vocab",
    "x22_group_percentiles",
    "x28_incremental_admit",
    "x31_fuzzy_pairs",
    "x32_linkage_audit",
    "x33_rollup_release",
    "x34_user_contrib",
    "x35_kmap_audit",
    "x36_dp_synthesize",
    "x37_pseudonymize",
    "x38_vgh",
    "x39_recursive_cl",
    "x40_span_stats",
    "x43_profile",
    "x44_centroid_sums",
    "x45_quantize",
    "x46_dp_distinct_exact",
    "x47_shard_plan",
    "x48_snapshot_diff",
    "x49_heavy_hitters_exact",
    "x50_weighted_sample",
    "x51_beta_likeness",
    "x53_mad_outliers",
    "x56_continual_exact",
    "x57_fk_orphans",
    "x58_apply_changes",
    "x59_skew_report",
    "x60_quantile_sketch",
    "x63_group_ols",
    "x66_trending",
    "x67_psi_drift",
    "x68_dp_covariance_exact",
    "x69_corr_matrix",
    "x70_km_anonymity",
    "x71_chi_squared",
    "x72_transitions",
    "x73_range_counts_exact",
    "x74_ab_test",
    "x75_benford",
    "x76_seasonality",
    "x77_expectations",
    "x79_kaplan_meier",
    "x80_mann_whitney",
    "x81_knn_join",
    "x82_quality_dedup",
    "x84_stratified_split",
    "x87_rolling_anomaly",
    "x88_cusum",
    "x89_set_union_exact",
    "x91_winsorize",
    "x95_zorder",
    "x99_tfidf_topk",
    "x100_qi_search",
    "x101_ak_anonymity",
    "x102_copurchase",
    # x103_entities deliberately absent: its wall is closure-ROUND
    # scheduling overhead (~19 s flat across sf0.01/sf0.1 — see
    # SCALE.md), which would triple-count dead time under min-of-3
    # without measuring data-path throughput.
    "x104_ewma",
    "x105_pivot_release",
    "x106_m_invariance",
    "x108_ks_test",
    "x109_spearman",
    "x110_anova",
    "x112_novelty",
    "x113_source_overlap",
    "x114_dp_heatmap_exact",
    "x115_weighted_median",
    "x117_oov_rate",
    "x122_label_consistency",
    "x123_path_trigrams",
    "x111_gini",
    "x97_delta_presence",
    "x81_knn_join_arrow",
    "x64_mutual_information",
    "x125_scd2",
    "x126_pagerank",
    "x127_anatomy",
    "x129_bloom",
    "x131_containment",
    "x132_negative_samples",
    "x133_hard_negatives",
    "x134_nelson_aalen",
    "x135_cuped",
    "x136_decile_lift",
    "x138_triangles",
    "x140_retrieval_eval",
    "x142_acf",
    "x143_mann_kendall",
    "x144_target_encode",
    "x145_jsd_sources",
    "x147_roc_auc",
    "x148_bh_fdr",
    "x149_kcore",
    "x150_wilcoxon",
    "x151_assortativity",
    "x152_powerlaw",
    "x153_skyline",
    "x155_adamic_adar",
    "x156_kruskal_wallis",
    "x157_cliffs_delta",
    "x158_permutation_test",
    "x159_quantile_norm",
    "x160_label_prop",
    "x161_isotonic",
    "x162_stream_join",
    "x163_bootstrap_ci",
    "x164_textrank",
    "x165_theil",
    "x166_bfs_profile",
    "x167_mahalanobis",
    "x168_sequential_ab",
    "x169_delete_plan",
    "x170_join_cardinality",
    "x171_kcenter",
    "x172_feature_hashing",
    "x01_dp_noise_moments",
    "x01_dp_noise_moments_gauss",
    # distributed graph flavors: the iterative join plans 100x scale
    # runs, bench-visible even where the hybrid fast path would absorb
    # the sf (r5 verdict task 5)
    "x126_pagerank_dist",
    "x160_label_prop_dist",
    "x166_bfs_dist",
    "x174_leakage_safe_split",
    "x175_semantic_dedup",
    "x175_semantic_dedup_auto",
    "x176_line_dedup",
    "x177_random_projection",
    "x178_winnowing",
    "x179_pettitt",
    "x180_mmr_rerank",
    "x181_embedding_drift",
    "x182_split_conformal",
    "x183_mutual_knn",
    "x184_good_turing",
    "x185_heaps_fit",
    "x186_stream_drift",
    "x188_markov_stationary",
    "x189_langid_eval",
    "x190_pmi_collocations",
    "x191_cohens_kappa",
    "x193_parity",
    "x194_holt",
    "x195_local_clustering",
    "x196_hits",
    "x197_logrank",
    "x198_ktruss",
    "x200_brown_forsythe",
    "x201_seasonal_decompose",
    "x202_hll_distinct",
    "x203_readability",
    "x204_cramers_v",
    "x205_cochran_armitage",
    "x206_token_fertility",
    "x207_ipw_ate",
    "x208_item_cf",
    "x209_odds_ratio",
    "x210_mcnemar",
    "x211_distinct_users",
    "x213_rmst",
    "x214_pca_project",
    "x215_wilson_ci",
    "x216_keyness",
    "x217_mantel_haenszel",
    "x218_theil_sen",
    "x219_qini",
    "x220_overdispersion",
    "x221_friedman",
    "x222_tost",
    "x223_dp_consistent",
    "c03_encode_scale",
    "x224_silhouette",
    "x225_kendall_tau",
    "x226_krippendorff",
    "x227_canary_audit",
    "x228_capture_recapture",
    "x229_anderson_darling",
    "x230_ljung_box",
    "x231_neyman_allocation",
    "x232_count_min",
    "x234_minhash_estimate",
    "x235_anderson_ksamp",
    "x236_theil_u",
    "x237_msttr",
    "x238_line_dup_profile",
    "x240_vocab_coverage",
    "x241_near_dup_plan",
    "x38_vgh_min_level",
]


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# Fixed calibration workload (r8 verdict task 5): a data-independent,
# CPU-bound reference computation (5B-row xxhash64 fold, ~1.5 s on a
# quiet box — large enough that scheduling noise is <5%) whose wall
# measures THIS BOX AT THIS MOMENT. Per-query times divided by the
# speed factor (calibration_sec / CALIBRATION_REF_SEC) are comparable
# across rounds: a real 1.4x regression survives normalization, the
# ±10% ambient drift that muddied the r8 common-242 comparison does
# not. The reference constant is the min-of-7 measured on a quiet
# round-9 box (loadavg 1.5, nothing else running); it is a fixed
# denominator, never remeasured, so normalized numbers stay on one
# scale forever.
CALIBRATION_REF_SEC = 1.5


def calibrate(spark) -> float:
    from pyspark.sql import functions as F

    best = float("inf")
    for _ in range(7):
        t0 = time.perf_counter()
        force(
            spark.range(0, 5_000_000_000, 1, 32).select(
                F.sum(F.xxhash64("id") % 1000003).alias("h")
            )
        )
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: JVM + parquet footer + codegen paths
    force(qr.QUERIES["p01_scan"](spark, sf_dir))

    # per-invocation box-speed constant (see CALIBRATION_REF_SEC)
    calibration_sec = calibrate(spark)
    speed_factor = calibration_sec / CALIBRATION_REF_SEC

    # min over repeated runs per query: later runs reuse JVM-warm code
    # paths and OS page cache, so the min reports steady-state latency.
    # Measured ambient noise on this shared box is up to ~3x on a single
    # run (first-run codegen + neighbors). Repeats are ADAPTIVE: 3 runs
    # for every query, and sub-second queries (where fixed scheduling
    # overhead IS the measurement, with ±30% spread at n=3) take up to 7 —
    # the extra samples cost milliseconds exactly where they narrow the
    # band most.
    # Ambient-load telemetry so a slow suite is mechanically adjudicable
    # (r5 verdict: the 93->178 s jump was box contention, proven only by
    # hand re-runs). Sampled before and after the sweep; per-query load
    # at measurement time rides in the full artifact.
    def load_snapshot() -> dict:
        la1, la5, la15 = os.getloadavg()
        try:
            n_procs = len([p for p in os.listdir("/proc") if p.isdigit()])
        except OSError:
            n_procs = -1
        return {
            "loadavg_1m": round(la1, 2),
            "loadavg_5m": round(la5, 2),
            "loadavg_15m": round(la15, 2),
            "n_processes": n_procs,
        }

    load_start = load_snapshot()
    timings: dict[str, float] = {}
    n_done = 0
    query_load: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in HEADLINE:
        best = float("inf")
        runs = 0
        query_load[name] = round(os.getloadavg()[0], 2)
        while runs < 3 or (best < 1.0 and runs < 7):
            # operators persist intermediates; clear so every run pays its
            # own materialization (CacheManager would otherwise hand run 2
            # the first run's cache and report a fantasy number); drain
            # the engine's cache ledger too, and nudge the JVM GC so
            # localCheckpoint blocks from earlier queries actually free —
            # at sf1 the headline session otherwise accumulates heap
            # until a late query OOMs (x196, measured)
            spark.catalog.clearCache()
            release_cached_relations()
            t0 = time.perf_counter()
            try:
                force(qr.QUERIES[name](spark, sf_dir))
            except Exception as e:  # noqa: BLE001 — one bad query must
                # not kill the whole artifact; record and move on (the
                # sf1 int64-overflow episode took the entire run down)
                errors[name] = f"{type(e).__name__}: {e}"[:300]
                break
            best = min(best, time.perf_counter() - t0)
            runs += 1
        # a transient error on a LATER repeat must not discard a valid
        # measurement — keep the best finite timing; the error note
        # still rides in the artifact for adjudication
        if best != float("inf"):
            timings[name] = round(best, 3)
        n_done += 1
        if n_done % 25 == 0:
            spark.sparkContext._jvm.System.gc()

    # An errored query is absent from `timings`, which would silently
    # SHRINK the headline sum relative to prior-round artifacts with the
    # same query list — a smaller total must never read as a speedup. So
    # when any query errored, the headline `value` is null (adjudication
    # must look at `partial_total` + `errors`, not compare totals).
    partial_total = round(sum(timings.values()), 3)
    total = partial_total if not errors else None
    load_end = load_snapshot()
    # Key layout is adjudication-proofing (r7 verdict watch item): the
    # driver's tail capture truncates the printed line from the FRONT,
    # which used to leave two anonymous {query: number} dicts — times
    # then loadavg — and a truncated tail read loadavg as times. Now the
    # loadavg keys carry a "la:" prefix (can never be mistaken for a
    # timing) and "queries" is the LAST key, so whatever survives the
    # tail is the real times dict.
    full = {
        "metric": "headline_suite_wall_sec",
        "value": total,
        "unit": "sec",
        "partial_total": partial_total,
        "sf": float(sf),
        "load_start": load_start,
        "load_end": load_end,
        "errors": errors,
        # box-speed normalization (r8 verdict task 5): divide any timing
        # by speed_factor to compare across rounds on one scale; the
        # normalized dicts carry that division pre-applied. Keys carry a
        # "norm:" prefix so a front-truncated tail capture can never
        # mistake them for the raw times dict (which stays LAST).
        "calibration": {
            "calibration_sec": round(calibration_sec, 3),
            "ref_sec": CALIBRATION_REF_SEC,
            "speed_factor": round(speed_factor, 4),
        },
        "value_normalized": (
            round(total / speed_factor, 3) if total is not None else None
        ),
        "queries_normalized": {
            f"norm:{k}": round(v / speed_factor, 3) for k, v in timings.items()
        },
        "query_loadavg_1m": {f"la:{k}": v for k, v in query_load.items()},
        "queries": timings,
    }
    # Full per-query map goes to a file artifact; stdout gets the full line
    # FIRST and then a compact summary line LAST. The driver's tail capture
    # truncated round 3's single giant line from the front (parsed: null),
    # so the final line must stay small enough to always survive the tail.
    # sf-suffixed artifact for non-default scale factors: an sf1 scaling
    # run must never clobber the committed sf0.1 artifact (it did once).
    art = "BENCH_full.json" if sf == "0.1" else f"BENCH_full_sf{sf}.json"
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, art), "w") as f:
        json.dump(full, f, indent=1)
    # Driver-readable per-query artifact (r10 verdict item 2): the printed
    # full line is longer than the driver's stdout tail capture, so the
    # per-query map has been unreadable to PERF for two rounds. This fixed
    # path carries the SAME map the printed line does, every run, whatever
    # the sf — additions-only (the stdout contract below is unchanged).
    with open(os.path.join(here, "BENCH_out.json"), "w") as f:
        json.dump(full, f, indent=1)
    print(json.dumps(full))
    print(
        json.dumps(
            {
                "metric": "headline_suite_wall_sec",
                "value": total,
                "unit": "sec",
                "partial_total": partial_total,
                "sf": float(sf),
                "calibration_sec": round(calibration_sec, 3),
                "speed_factor": round(speed_factor, 4),
                "value_normalized": (
                    round(total / speed_factor, 3) if total is not None else None
                ),
                "n_queries": len(timings),
                "loadavg_1m_start": load_start["loadavg_1m"],
                "loadavg_1m_end": load_end["loadavg_1m"],
                "n_processes": load_end["n_processes"],
                "n_errors": len(errors),
                # names ride the compact line so the tail capture alone
                # suffices to see WHAT failed, not just how many
                "error_queries": sorted(errors),
            }
        )
    )


if __name__ == "__main__":
    main()
