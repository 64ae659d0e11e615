"""PySpark-native privacy-preserving analytics engine.

A Spark-first rebuild of the capabilities of the reference study
(trjyap/dbms-data-anonymity-differential-privacy): k-anonymity by
suppression, clustering-based anonymization, t-closeness filtering,
privacy/utility metrics — plus the north-star extensions: differential
privacy on aggregates, deduplication, similarity search, text analysis,
and streaming anonymization.

Everything is expressed against the DataFrame API so Catalyst handles
planning/pushdown, and designed for a 1000-executor / 100 TB deployment:
no driver-side loops over rows; the driver collects only domain-bounded
tables (class and QI-tuple counts, bin edges, final scalars), each under
``MAX_QI_TUPLES`` rows; window counts instead of self-joins, broadcast
for tiny relations.
"""

from dbms_data_anonymity_differential_privacy_spark.session import get_spark
from dbms_data_anonymity_differential_privacy_spark.sources.readers import (
    load_table,
    load_tables,
    read_adult_csv,
    read_documents_jsonl,
    write_documents_jsonl,
)
from dbms_data_anonymity_differential_privacy_spark.functions.binning import (
    bin_equal_width,
    bin_explicit_edges,
)
from dbms_data_anonymity_differential_privacy_spark.operators.kanonymity import (
    class_sizes,
    k_anonymize_suppress,
    k_anonymity_audit,
    km_anonymity_audit,
)
from dbms_data_anonymity_differential_privacy_spark.operators.metrics import (
    reid_risk,
    uniqueness_rate,
    suppression_rate,
    ncp,
    group_percentiles,
)
from dbms_data_anonymity_differential_privacy_spark.operators.tcloseness import (
    sensitive_distribution,
    class_emd,
    t_closeness_filter,
    t_violations,
)
from dbms_data_anonymity_differential_privacy_spark.operators.dp import (
    dp_count,
    dp_sum,
    dp_avg,
    dp_histogram,
    dp_count_gaussian,
    dp_mode,
    dp_noise_moments,
    dp_quantile,
    dp_topk,
    gaussian_sigma,
    dp_histogram_consistent,
)
from dbms_data_anonymity_differential_privacy_spark.operators.clustering import cluster_anonymize
from dbms_data_anonymity_differential_privacy_spark.operators.dedup import (
    dedup_exact,
    dedup_by_fingerprint,
    dedup_corpus,
    dedup_lines_corpus,
    leakage_safe_split,
    winnow_fingerprints,
    winnow_match_pairs,
    minhash_lsh_pairs,
    near_dedup_corpus,
    ngram_jaccard_pairs,
    semantic_dedup,
    simhash_pairs,
)
from dbms_data_anonymity_differential_privacy_spark.operators.tcloseness import (
    entropy_l_diversity_filter,
    l_diversity_entropy_stats,
    l_diversity_filter,
    recursive_cl_diversity_filter,
)
from dbms_data_anonymity_differential_privacy_spark.operators.dp import PrivacyBudget, ZCDPBudget
from dbms_data_anonymity_differential_privacy_spark.operators.similarity import (
    cosine_topk,
    cosine_self_join_pairs,
    cosine_pairs_topm,
    embedding_near_dup_pairs,
    embedding_dedup,
    ann_topk_lsh,
    ivf_index,
    ivf_topk,
    knn_join,
    mmr_rerank,
    mmr_rerank_embeddings,
    mutual_knn_pairs,
)
from dbms_data_anonymity_differential_privacy_spark.operators.sampling import (
    hash_sample,
    hash_split,
    stratified_sample_n,
    stratified_split,
)
from dbms_data_anonymity_differential_privacy_spark.streaming.audience import (
    windowed_distinct_users_batch,
    windowed_distinct_users_stream,
)
from dbms_data_anonymity_differential_privacy_spark.streaming.drift import (
    drift_windows_batch,
    drift_windows_stream,
    reference_counts,
)
from dbms_data_anonymity_differential_privacy_spark.operators.text import (
    classification_eval,
    keyness_llr,
    readability_scores,
    token_fertility,
    good_turing_stats,
    heaps_fit,
    pmi_collocations,
    text_stats,
    with_text_features,
)
from dbms_data_anonymity_differential_privacy_spark.operators.linkage import (
    fuzzy_pairs,
    fuzzy_pairs_fastss,
    linkage_attack_audit,
)
from dbms_data_anonymity_differential_privacy_spark.operators.dedup import (
    incremental_admit,
    remove_repeated_spans,
    repeated_span_stats,
)
from dbms_data_anonymity_differential_privacy_spark.operators.dp import (
    bound_contribution,
    dp_sum_user_level,
)
from dbms_data_anonymity_differential_privacy_spark.operators.metrics import delta_presence_audit, k_map_audit
from dbms_data_anonymity_differential_privacy_spark.operators.rollup import rollup_release
from dbms_data_anonymity_differential_privacy_spark.operators.pseudonym import pseudonymize
from dbms_data_anonymity_differential_privacy_spark.operators.generalize import (
    apply_vgh,
    min_level_for_k,
)
from dbms_data_anonymity_differential_privacy_spark.operators.synth import (
    dp_marginals,
    dp_synthesize,
    dp_synthesize_chain,
)
from dbms_data_anonymity_differential_privacy_spark.operators.utility import utility_accuracy
from dbms_data_anonymity_differential_privacy_spark import pipelines
from dbms_data_anonymity_differential_privacy_spark.sources.writers import (
    write_release,
    write_bucketed,
    write_adult_csv,
)
from dbms_data_anonymity_differential_privacy_spark.operators.profile import profile_columns
from dbms_data_anonymity_differential_privacy_spark.operators.embeddings import (
    assemble_centroids,
    centroid_sums,
    dequantize,
    label_centroids,
    quantize_embeddings,
    random_project,
    rp_sign_matrix,
    embedding_drift,
    pca_project,
)
from dbms_data_anonymity_differential_privacy_spark.operators.sampling import assign_shards
from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_count_distinct_users, dp_set_union, dp_set_union_exact
from dbms_data_anonymity_differential_privacy_spark.operators.sketch import (
    bottomk_sample,
    heavy_hitters,
    kmv_distinct,
    quantile_sketch,
    hll_distinct,
)
from dbms_data_anonymity_differential_privacy_spark.operators.snapshot import (
    snapshot_diff,
    snapshot_diff_summary,
)
from dbms_data_anonymity_differential_privacy_spark.operators.sampling import weighted_sample_n
from dbms_data_anonymity_differential_privacy_spark.operators.tcloseness import (
    beta_likeness_audit,
)
from dbms_data_anonymity_differential_privacy_spark.operators.metrics import mad_outlier_stats, winsorize
from dbms_data_anonymity_differential_privacy_spark.operators.dp import (
    continual_counts_exact,
    dp_continual_counts,
    dp_range_counts,
)
from dbms_data_anonymity_differential_privacy_spark.operators.integrity import (
    expectation_report,
    key_uniqueness_check,
    referential_check,
)
from dbms_data_anonymity_differential_privacy_spark.operators.snapshot import apply_changes
from dbms_data_anonymity_differential_privacy_spark.operators.profile import skew_report
from dbms_data_anonymity_differential_privacy_spark.operators.stats import (
    brown_forsythe,
    calibration_table,
    cochran_armitage,
    cohens_kappa,
    cramers_v,
    friedman_test,
    ipw_ate,
    item_cf_topk,
    mantel_haenszel_or,
    mcnemar_test,
    odds_ratio_2x2,
    overdispersion_check,
    qini_curve,
    rmst,
    theil_sen_slope,
    tost_equivalence,
    wilson_ci_rates,
    group_ols,
    holt_linear,
    logrank_test,
    seasonal_decompose_dow,
    markov_stationary,
    selection_rate_parity,
    mutual_information,
    pettitt_test,
    split_conformal,
    ab_test_proportions,
    benford_audit,
    chi_squared,
    correlation_matrix,
    kaplan_meier,
    mann_whitney_u,
    psi_drift,
    psi_drift_bins,
    seasonality_index,
    time_to_event,
    top_k_per_group,
    transition_matrix,
    rolling_anomaly,
    cusum_changepoints,
)
from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_covariance
from dbms_data_anonymity_differential_privacy_spark.streaming.anomaly import (
    rolling_anomaly_stateful,
    rolling_anomaly_stream,
)
from dbms_data_anonymity_differential_privacy_spark.operators.util import release_cached_relations

__all__ = [
    "get_spark",
    "load_table",
    "load_tables",
    "read_adult_csv",
    "read_documents_jsonl",
    "write_documents_jsonl",
    "bin_equal_width",
    "bin_explicit_edges",
    "class_sizes",
    "k_anonymize_suppress",
    "k_anonymity_audit",
    "reid_risk",
    "uniqueness_rate",
    "suppression_rate",
    "ncp",
    "group_percentiles",
    "sensitive_distribution",
    "class_emd",
    "t_closeness_filter",
    "t_violations",
    "dp_count",
    "dp_sum",
    "dp_avg",
    "dp_histogram",
    "dp_count_gaussian",
    "dp_mode",
    "dp_quantile",
    "dp_topk",
    "gaussian_sigma",
    "cluster_anonymize",
    "dedup_exact",
    "dp_noise_moments",
    "leakage_safe_split",
    "semantic_dedup",
    "dedup_lines_corpus",
    "random_project",
    "rp_sign_matrix",
    "winnow_fingerprints",
    "winnow_match_pairs",
    "embedding_drift",
    "pettitt_test",
    "split_conformal",
    "markov_stationary",
    "mmr_rerank",
    "mmr_rerank_embeddings",
    "mutual_knn_pairs",
    "classification_eval",
    "good_turing_stats",
    "heaps_fit",
    "pmi_collocations",
    "cohens_kappa",
    "calibration_table",
    "selection_rate_parity",
    "holt_linear",
    "logrank_test",
    "brown_forsythe",
    "seasonal_decompose_dow",
    "cramers_v",
    "cochran_armitage",
    "ipw_ate",
    "readability_scores",
    "token_fertility",
    "hll_distinct",
    "item_cf_topk",
    "odds_ratio_2x2",
    "mcnemar_test",
    "windowed_distinct_users_batch",
    "windowed_distinct_users_stream",
    "rmst",
    "pca_project",
    "wilson_ci_rates",
    "mantel_haenszel_or",
    "theil_sen_slope",
    "keyness_llr",
    "qini_curve",
    "overdispersion_check",
    "friedman_test",
    "tost_equivalence",
    "dp_histogram_consistent",
    "drift_windows_batch",
    "drift_windows_stream",
    "reference_counts",
    "dedup_by_fingerprint",
    "minhash_lsh_pairs",
    "ngram_jaccard_pairs",
    "simhash_pairs",
    "dedup_corpus",
    "near_dedup_corpus",
    "l_diversity_filter",
    "entropy_l_diversity_filter",
    "recursive_cl_diversity_filter",
    "l_diversity_entropy_stats",
    "PrivacyBudget",
    "ZCDPBudget",
    "cosine_topk",
    "cosine_self_join_pairs",
    "embedding_near_dup_pairs",
    "embedding_dedup",
    "cosine_pairs_topm",
    "ann_topk_lsh",
    "ivf_index",
    "ivf_topk",
    "knn_join",
    "hash_sample",
    "hash_split",
    "stratified_sample_n",
    "stratified_split",
    "text_stats",
    "with_text_features",
    "incremental_admit",
    "repeated_span_stats",
    "remove_repeated_spans",
    "fuzzy_pairs",
    "fuzzy_pairs_fastss",
    "linkage_attack_audit",
    "rollup_release",
    "bound_contribution",
    "dp_sum_user_level",
    "k_map_audit",
    "delta_presence_audit",
    "dp_marginals",
    "dp_synthesize",
    "dp_synthesize_chain",
    "pseudonymize",
    "apply_vgh",
    "min_level_for_k",
    "utility_accuracy",
    "pipelines",
    "write_release",
    "write_bucketed",
    "write_adult_csv",
    "profile_columns",
    "quantize_embeddings",
    "dequantize",
    "centroid_sums",
    "assemble_centroids",
    "label_centroids",
    "assign_shards",
    "dp_count_distinct_users",
    "dp_set_union",
    "dp_set_union_exact",
    "heavy_hitters",
    "snapshot_diff",
    "snapshot_diff_summary",
    "weighted_sample_n",
    "beta_likeness_audit",
    "mad_outlier_stats",
    "continual_counts_exact",
    "dp_continual_counts",
    "referential_check",
    "key_uniqueness_check",
    "apply_changes",
    "skew_report",
    "bottomk_sample",
    "quantile_sketch",
    "kmv_distinct",
    "group_ols",
    "mutual_information",
    "top_k_per_group",
    "psi_drift",
    "psi_drift_bins",
    "dp_covariance",
    "release_cached_relations",
    "rolling_anomaly_stateful",
    "rolling_anomaly_stream",
    "correlation_matrix",
    "km_anonymity_audit",
    "chi_squared",
    "transition_matrix",
    "dp_range_counts",
    "ab_test_proportions",
    "benford_audit",
    "seasonality_index",
    "expectation_report",
    "winsorize",
    "kaplan_meier",
    "time_to_event",
    "mann_whitney_u",
    "cusum_changepoints",
    "rolling_anomaly",
]
