"""Randomized-fixture oracle fuzz — round-10 verdict task 1.

The systematic blind spot of the fixed-fixture oracle gate: engine and
DuckDB twin share an author and are hash-compared on the SAME committed
parquet, so a formula bug that only fires off-fixture (negative values,
empty groups, all-ties, single-row groups, injected NULLs, zero
vectors) could hash-match forever. This tool attacks the correlation:
it generates N seeded random perturbations of the sf0.001 tables —
schema-preserving, so every query and twin runs unmodified — and runs
the check_oracle comparison for the most formula-heavy stat/DP releases
over each.

Perturbations per seed (numpy RandomState(seed), fully reproducible):
- row resample: keep-fraction in {1.0, 0.6, 0.25, tiny}, sometimes WITH
  replacement (duplicate rows => ties, repeated keys);
- numeric non-key columns: one of {keep, negate a subset, zero a
  subset, round to integers (mass ties), set constant (all-ties),
  shuffle within column};
- string non-key columns: occasionally shuffled or a subset collapsed
  to one value (degenerate groups) or emptied;
- NULL injection into nullable value columns (coin per seed);
- embeddings: a subset of vectors negated or zeroed (zero-norm edge).

Key/id columns and timestamps are never value-perturbed (joins must
still be joins); resampling already stresses key multiplicity.

Usage:
  python tools/fuzz_oracle.py [--seeds N] [--json OUT.json] [name ...]

Exit code 1 on any divergence. The committed artifact
FUZZ_ORACLE.json records the full run (seed x op matrix).
"""

from __future__ import annotations

import os
import shutil
import sys
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, ".")
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from check_oracle import TABLES, compare, duck_con  # noqa: E402

BASE_DIR = "/root/testdata/sf0.001"
FUZZ_ROOT = ".bench_data/fuzz"

# The formula-heavy releases: closed-form statistics, rank tests,
# survival curves, DP pre-noise twins — everywhere a transcription slip
# between the Spark algebra and the SQL twin could agree on the fixture
# by luck and diverge off it.
TARGET_OPS = [
    # rank / distribution tests
    "x225_kendall_tau", "x109_spearman", "x80_mann_whitney",
    "x150_wilcoxon", "x156_kruskal_wallis", "x157_cliffs_delta",
    "x108_ks_test", "x229_anderson_darling", "x235_anderson_ksamp",
    "x110_anova", "x200_brown_forsythe", "x221_friedman",
    "x158_permutation_test", "x230_ljung_box", "x142_acf",
    # categorical association / rates
    "x71_chi_squared", "x204_cramers_v", "x205_cochran_armitage",
    "x209_odds_ratio", "x210_mcnemar", "x217_mantel_haenszel",
    "x215_wilson_ci", "x191_cohens_kappa", "x226_krippendorff",
    "x236_theil_u", "x64_mutual_information", "x220_overdispersion",
    # survival / sequential
    "x79_kaplan_meier", "x134_nelson_aalen", "x197_logrank",
    "x213_rmst", "x179_pettitt", "x143_mann_kendall", "x218_theil_sen",
    "x168_sequential_ab", "x74_ab_test", "x135_cuped", "x222_tost",
    # effect / ranking metrics
    "x147_roc_auc", "x219_qini", "x136_decile_lift", "x148_bh_fdr",
    "x163_bootstrap_ci", "x207_ipw_ate",
    # distributional fits / inequality
    "x111_gini", "x165_theil", "x184_good_turing",
    "x185_heaps_fit", "x145_jsd_sources", "x67_psi_drift",
    "x69_corr_matrix", "x63_group_ols", "x167_mahalanobis",
    # DP pre-noise exact twins
    "x01_dp_count_exact", "x01_dp_sum_exact", "x01_dp_avg_exact",
    "x01_dp_histogram_exact", "x01_dp_quantile_exact",
    "x01_dp_topk_exact", "x01_dp_mode_exact", "x01_svt_exact",
    "x68_dp_covariance_exact", "x73_range_counts_exact",
    "x56_continual_exact", "x46_dp_distinct_exact", "x89_set_union_exact",
    "x114_dp_heatmap_exact",
    # r9 audit layer
    "x228_capture_recapture", "x231_neyman_allocation", "x232_count_min",
    "x234_minhash_estimate", "x237_msttr", "x240_vocab_coverage",
]

_KEYISH = (
    "key", "_id", "id_", "linenumber",
)


def _is_key(col: str) -> bool:
    c = col.lower()
    return c in ("doc_id", "vec_id", "event_id", "user_id") or any(
        k in c for k in _KEYISH
    )


def _perturb_numeric(s: pd.Series, rng: np.random.RandomState) -> pd.Series:
    mode = rng.choice(
        ["keep", "negate", "zero", "ints", "const", "shuffle"],
        p=[0.25, 0.15, 0.15, 0.2, 0.1, 0.15],
    )
    v = s.copy()
    n = len(v)
    if n == 0 or mode == "keep":
        return v
    if mode == "negate":
        mask = rng.rand(n) < rng.uniform(0.2, 1.0)
        v[mask] = -v[mask]
    elif mode == "zero":
        mask = rng.rand(n) < rng.uniform(0.1, 0.6)
        v[mask] = 0
    elif mode == "ints":
        lo = rng.choice([2, 5, 10])  # tiny integer domain => mass ties
        v = (v.abs() % lo).round(0) * np.sign(v).replace(0, 1)
    elif mode == "const":
        v[:] = v.iloc[int(rng.randint(n))]
    elif mode == "shuffle":
        v = pd.Series(rng.permutation(v.to_numpy()), index=v.index)
    return v


def _perturb_string(s: pd.Series, rng: np.random.RandomState) -> pd.Series:
    mode = rng.choice(["keep", "shuffle", "collapse", "empty_some"], p=[0.45, 0.2, 0.2, 0.15])
    v = s.copy()
    n = len(v)
    if n == 0 or mode == "keep":
        return v
    if mode == "shuffle":
        v = pd.Series(rng.permutation(v.to_numpy()), index=v.index)
    elif mode == "collapse":
        mask = rng.rand(n) < rng.uniform(0.3, 1.0)
        v[mask] = v.iloc[int(rng.randint(n))]
    elif mode == "empty_some":
        mask = rng.rand(n) < rng.uniform(0.05, 0.3)
        v[mask] = ""
    return v


def perturb_table(name: str, src: str, dst: str, rng: np.random.RandomState) -> int:
    tab = pq.read_table(src)
    schema = tab.schema
    df = tab.to_pandas()
    n0 = len(df)

    # --- row resample ---------------------------------------------------
    shape = rng.choice(["full", "sub", "quarter", "tiny"], p=[0.35, 0.3, 0.2, 0.15])
    frac = {"full": 1.0, "sub": 0.6, "quarter": 0.25, "tiny": 0.0}[shape]
    if shape == "tiny":
        k = int(rng.randint(1, 9))
    else:
        k = max(1, int(n0 * frac))
    replace = bool(rng.rand() < 0.3)
    if name in ("documents", "embeddings"):
        # doc_id/vec_id are identity keys the near-dup/ANN releases are
        # keyed on (pair relations, per-id estimates) — duplicating them
        # is out of contract, not an off-fixture data shape. The rand()
        # is still drawn so the seed's downstream draws are unchanged.
        replace = False
        k = min(k, n0)
    idx = rng.choice(n0, size=k, replace=replace)
    df = df.iloc[np.sort(idx)].reset_index(drop=True)

    inject_null = bool(rng.rand() < 0.5)
    for col in df.columns:
        if _is_key(col):
            continue
        dt = df[col].dtype
        if col == "embedding":
            # negate or zero a subset of vectors (zero-norm edge case)
            mask = rng.rand(len(df)) < 0.2
            how = rng.choice(["negate", "zero"])
            if how == "negate":
                df.loc[mask, col] = df.loc[mask, col].apply(
                    lambda a: np.negative(a)
                )
            else:
                df.loc[mask, col] = df.loc[mask, col].apply(np.zeros_like)
            continue
        if np.issubdtype(dt, np.floating) or np.issubdtype(dt, np.integer):
            df[col] = _perturb_numeric(df[col], rng)
            if inject_null and np.issubdtype(dt, np.floating) and rng.rand() < 0.4:
                mask = rng.rand(len(df)) < rng.uniform(0.02, 0.15)
                df.loc[mask, col] = np.nan
        elif dt == object:
            df[col] = _perturb_string(df[col], rng)
            if inject_null and rng.rand() < 0.3:
                mask = rng.rand(len(df)) < rng.uniform(0.02, 0.1)
                df.loc[mask, col] = None
        # timestamps: resample only

    out = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(out, dst)
    return len(df)


def build_fuzz_dir(seed: int, base_dir: str = BASE_DIR) -> str:
    out_dir = os.path.join(FUZZ_ROOT, f"seed{seed}")
    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.RandomState(seed)
    for t in TABLES:
        perturb_table(t, f"{base_dir}/{t}.parquet", f"{out_dir}/{t}.parquet", rng)
    return out_dir


def main() -> int:
    argv = list(sys.argv[1:])
    n_seeds, json_out = 20, None
    names: list[str] = []
    i = 0
    while i < len(argv):
        if argv[i] == "--seeds":
            n_seeds = int(argv[i + 1]); i += 2
        elif argv[i] == "--json":
            json_out = argv[i + 1]; i += 2
        else:
            names.append(argv[i]); i += 1
    ops = names or TARGET_OPS

    import __spark_entry__ as entrymod
    from dbms_data_anonymity_differential_privacy_spark import get_spark

    spark = get_spark()
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    unknown = [n for n in ops if n not in qs or n not in oracles]
    if unknown:
        print(f"not oracle-backed registered queries: {unknown}")
        return 2

    report: dict[str, dict] = {}
    failures = 0
    t_start = time.time()
    for seed in range(1, n_seeds + 1):
        fuzz_dir = build_fuzz_dir(seed)
        con = duck_con(fuzz_dir)
        seed_fail = 0
        for name in ops:
            t0 = time.time()
            err = None
            try:
                spark_pdf = qs[name](spark, fuzz_dir).toPandas()
            except Exception as e:  # noqa: BLE001
                err = f"spark: {type(e).__name__}: {str(e)[:300]}"
                spark_pdf = None
            duck_pdf = None
            if err is None:
                try:
                    duck_pdf = con.execute(oracles[name]).fetchdf()
                except Exception as e:  # noqa: BLE001
                    err = f"duckdb: {type(e).__name__}: {str(e)[:300]}"
            if err is None:
                problems = compare(name, spark_pdf, duck_pdf)
                err = "; ".join(problems) or None
            key = f"s{seed}:{name}"
            report[key] = {
                "ok": err is None,
                "rows": None if spark_pdf is None else len(spark_pdf),
                "err": err,
                "sec": round(time.time() - t0, 2),
            }
            if err is not None:
                failures += 1
                seed_fail += 1
                print(f"FAIL seed={seed} {name}: {err}")
        spark.catalog.clearCache()
        con.close()
        print(
            f"seed {seed}/{n_seeds}: {len(ops) - seed_fail}/{len(ops)} ok "
            f"({time.time() - t_start:.0f}s elapsed)"
        )
    print(f"\n{n_seeds} seeds x {len(ops)} ops, {failures} divergences")
    if json_out:
        import json

        summary = {
            "base_dir": BASE_DIR,
            "n_seeds": n_seeds,
            "ops": ops,
            "failures": failures,
            "results": report,
        }
        with open(json_out, "w") as f:
            json.dump(summary, f, indent=1)
        print(f"wrote {json_out}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
