"""Named queries for the driver contract (__spark_entry__.py).

Each SURVEY §2 operator registers (a) a Spark callable ``(spark, sf_dir)
-> DataFrame`` and (b) where SQL-expressible, an equivalent DuckDB oracle
SQL string over the pre-registered parquet views. Column names/aliases are
kept identical on both sides (the driver sorts columns by name before
value-hashing). Float aggregate outputs are rounded identically on both
sides to absorb summation-order ulp noise.
"""

from __future__ import annotations

import math
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbms_data_anonymity_differential_privacy_spark.functions.binning import bin_equal_width
from dbms_data_anonymity_differential_privacy_spark.operators import kanonymity as ka
from dbms_data_anonymity_differential_privacy_spark.sources.readers import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}

# Customer QI set used throughout (FIXTURES.md §A): nationkey + mktsegment +
# 5-bin equal-width acctbal.
CUST_QI = ["c_nationkey", "c_mktsegment", "acctbal_bin"]

# Public candidate domain for the exponential-mechanism releases: the
# engine's supported language codes (data-independent — required for eps-DP
# selection; operators/dp.py _candidate_count_scores).
PUBLIC_LANGS = ["de", "en", "es", "fr", "zh"]

# DuckDB CTE for the binned customer relation — the SQL twin of
# bin_equal_width(customer, 'c_acctbal', 5) with identical arithmetic.
BINNED_CUSTOMER_CTE = (
    "binned AS (SELECT t.*, CAST(CASE WHEN mm.mn = mm.mx THEN 0 ELSE "
    "LEAST(FLOOR((c_acctbal - mm.mn) * 5 / (mm.mx - mm.mn)), 4) END AS INT) AS acctbal_bin "
    "FROM customer t CROSS JOIN "
    "(SELECT MIN(c_acctbal) AS mn, MAX(c_acctbal) AS mx FROM customer) mm)"
)


def query(name: str, sql: str | None = None):
    """Register a named query and (optionally) its DuckDB oracle."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE_SQL[name] = sql
        return fn

    return deco


def binned_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bin_equal_width(load_table(spark, sf_dir, "customer"), "c_acctbal", 5, "acctbal_bin")


# --------------------------------------------------------------------------
# C1 — flagship: k-anonymity by suppression (SURVEY §2b C1, §7 M0).
# Reference: naive-suppresion.py:29-40.
# --------------------------------------------------------------------------
@query(
    "c01_k_anonymize_suppress",
    f"""
    WITH {BINNED_CUSTOMER_CTE},
    f AS (SELECT *, COUNT(*) OVER (PARTITION BY c_nationkey, c_mktsegment, acctbal_bin) AS __cnt
          FROM binned)
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, acctbal_bin
    FROM f WHERE __cnt >= 5
    """,
)
def c01_k_anonymize_suppress(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = binned_customer(spark, sf_dir)
    return ka.k_anonymize_suppress(b, CUST_QI, 5)


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """entry() target: same operator with the 2-col QI so the result is
    non-empty even at sf0.001 (the 3-col QI suppresses ~100% of 150 rows)."""
    b = binned_customer(spark, sf_dir)
    return ka.k_anonymize_suppress(b, ["c_mktsegment", "acctbal_bin"], 5)


# --------------------------------------------------------------------------
# §2a primitives P1–P23. Reference citations per SURVEY §2a.
# --------------------------------------------------------------------------

# P1 — scan with explicit schema (CSV variant exercised in tests/test_sources).
@query("p01_scan", "SELECT * FROM customer")
def p01_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer")


# P2 — drop-null filter (naive-suppresion.py:17). Testdata has no physical
# NULLs, so derive one (error events → NULL) then drop.
@query(
    "p02_drop_null",
    """
    SELECT event_id, user_id, NULLIF(event_type, 'error') AS event_kind, value
    FROM events WHERE NULLIF(event_type, 'error') IS NOT NULL
    """,
)
def p02_drop_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.nullif(F.col("event_type"), F.lit("error")).alias("event_kind"),
        "value",
    )
    return ev.na.drop("any")


# P3 — column projection (t-closeness.py:29).
@query("p03_project", "SELECT c_nationkey, c_mktsegment, c_acctbal FROM customer")
def p03_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment", "c_acctbal"
    )


# P4 — safe coercion: bad casts → NULL (pd.to_numeric errors='coerce',
# t-closeness.py:32-33) and to-string casts (Archived/data-anonymity.py:44-45).
@query(
    "p04_cast_coerce",
    """
    SELECT c_custkey,
           CAST(SUBSTR(c_name, 10, 30) AS BIGINT) AS name_num,
           CAST(c_nationkey AS VARCHAR) AS nation_str,
           TRY_CAST(c_mktsegment AS DOUBLE) AS seg_num
    FROM customer
    """,
)
def p04_cast_coerce(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    # Spark 4 defaults to ANSI mode where CAST throws on malformed input;
    # try_cast is the engine's errors='coerce' equivalent (→ NULL), matching
    # DuckDB's TRY_CAST.
    return c.select(
        "c_custkey",
        F.col("c_name").substr(10, 30).try_cast("long").alias("name_num"),
        F.col("c_nationkey").cast("string").alias("nation_str"),
        F.col("c_mktsegment").try_cast("double").alias("seg_num"),
    )


# P5 — group-frequency table on the composite QI (naive-suppresion.py:34).
CLASSES_SQL = (
    "classes AS (SELECT c_nationkey, c_mktsegment, acctbal_bin, "
    "COUNT(*) AS class_size FROM binned GROUP BY 1, 2, 3)"
)


@query(
    "p05_group_frequency",
    f"WITH {BINNED_CUSTOMER_CTE}, {CLASSES_SQL} SELECT * FROM classes",
)
def p05_group_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ka.class_sizes(binned_customer(spark, sf_dir), CUST_QI)


# P6 — threshold filter on the aggregate (naive-suppresion.py:37).
@query(
    "p06_threshold_filter",
    f"WITH {BINNED_CUSTOMER_CTE}, {CLASSES_SQL} SELECT * FROM classes WHERE class_size >= 5",
)
def p06_threshold_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    cs = ka.class_sizes(binned_customer(spark, sf_dir), CUST_QI)
    return cs.filter(F.col("class_size") >= 5)


# P7 — suppression join-back: agg + inner join formulation
# (naive-suppresion.py:40; same result as c01's window formulation,
# deliberately a different physical plan).
@query(
    "p07_join_back",
    f"""
    WITH {BINNED_CUSTOMER_CTE}, {CLASSES_SQL}
    SELECT b.c_custkey, b.c_name, b.c_nationkey, b.c_acctbal, b.c_mktsegment, b.acctbal_bin
    FROM binned b
    JOIN (SELECT * FROM classes WHERE class_size >= 5) f
      USING (c_nationkey, c_mktsegment, acctbal_bin)
    """,
)
def p07_join_back(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = binned_customer(spark, sf_dir)
    frequent = (
        ka.class_sizes(b, CUST_QI).filter(F.col("class_size") >= 5).drop("class_size")
    )
    # The frequent-class relation is small → broadcast join, no fact shuffle.
    return b.join(F.broadcast(frequent), on=CUST_QI, how="inner").select(*b.columns)


# P8 — semi-join membership test (t-closeness.py:93-95).
@query(
    "p08_semi_join",
    f"""
    WITH {BINNED_CUSTOMER_CTE}, {CLASSES_SQL}
    SELECT b.* FROM binned b
    WHERE (b.c_nationkey, b.c_mktsegment, b.acctbal_bin) IN
          (SELECT (c_nationkey, c_mktsegment, acctbal_bin)
           FROM classes WHERE class_size >= 5)
    """,
)
def p08_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = binned_customer(spark, sf_dir)
    frequent = ka.class_sizes(b, CUST_QI).filter(F.col("class_size") >= 5)
    return b.join(F.broadcast(frequent.select(*CUST_QI)), on=CUST_QI, how="left_semi")


# P9 — per-group stat broadcast back to rows (naive-suppresion.py:66-67).
@query(
    "p09_group_stat_to_rows",
    f"""
    WITH {BINNED_CUSTOMER_CTE},
    w AS (SELECT c_custkey,
                 COUNT(*) OVER (PARTITION BY c_nationkey, c_mktsegment, acctbal_bin)
                   AS class_size
          FROM binned)
    SELECT c_custkey, class_size, ROUND(1.0 / class_size, 9) AS risk FROM w
    """,
)
def p09_group_stat_to_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = binned_customer(spark, sf_dir)
    tagged = ka.with_class_size(b, CUST_QI)
    return tagged.select(
        "c_custkey",
        "class_size",
        F.round(F.lit(1.0) / F.col("class_size"), 9).alias("risk"),
    )


# P10 — min/max over the class-size column (naive-suppresion.py:43-44).
@query(
    "p10_minmax_class_size",
    f"""
    WITH {BINNED_CUSTOMER_CTE}, {CLASSES_SQL}
    SELECT MIN(class_size) AS min_class_size, MAX(class_size) AS max_class_size FROM classes
    """,
)
def p10_minmax_class_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    cs = ka.class_sizes(binned_customer(spark, sf_dir), CUST_QI)
    return cs.agg(
        F.min("class_size").alias("min_class_size"),
        F.max("class_size").alias("max_class_size"),
    )


# P11 — row count + distinct-group count (naive-suppresion.py:45,47-48).
@query(
    "p11_counts",
    f"""
    WITH {BINNED_CUSTOMER_CTE}
    SELECT (SELECT COUNT(*) FROM binned) AS n_rows,
           (SELECT COUNT(*) FROM
              (SELECT DISTINCT c_nationkey, c_mktsegment, acctbal_bin FROM binned)) AS n_classes
    """,
)
def p11_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = binned_customer(spark, sf_dir)
    rows = b.agg(F.count(F.lit(1)).alias("n_rows"))
    classes = b.select(*CUST_QI).distinct().agg(F.count(F.lit(1)).alias("n_classes"))
    return rows.crossJoin(F.broadcast(classes))


# P12 — per-column distinct counts, one pass (naive-suppresion.py:77-79).
@query(
    "p12_nunique",
    """
    SELECT COUNT(DISTINCT c_custkey) AS nu_custkey,
           COUNT(DISTINCT c_name) AS nu_name,
           COUNT(DISTINCT c_nationkey) AS nu_nationkey,
           COUNT(DISTINCT c_acctbal) AS nu_acctbal,
           COUNT(DISTINCT c_mktsegment) AS nu_mktsegment
    FROM customer
    """,
)
def p12_nunique(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.agg(
        *[
            F.countDistinct(col).alias(f"nu_{col[2:]}")
            for col in ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
        ]
    )


# P13 — value_counts (clustering-anon.py:55).
@query(
    "p13_value_counts",
    "SELECT c_mktsegment, COUNT(*) AS cnt FROM customer GROUP BY c_mktsegment",
)
def p13_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("cnt")).orderBy(
        F.desc("cnt")
    )


# P14 — zero-filled normalized distribution per group (t-closeness.py:42-46,66).
@query(
    "p14_distribution",
    """
    WITH sup AS (SELECT DISTINCT o_orderstatus FROM orders),
    grp AS (SELECT DISTINCT o_orderpriority FROM orders),
    cnts AS (SELECT o_orderpriority, o_orderstatus, COUNT(*) AS cnt
             FROM orders GROUP BY 1, 2),
    grid AS (SELECT g.o_orderpriority, s.o_orderstatus, COALESCE(c.cnt, 0) AS cnt
             FROM grp g CROSS JOIN sup s
             LEFT JOIN cnts c
               ON c.o_orderpriority = g.o_orderpriority
              AND c.o_orderstatus = s.o_orderstatus)
    SELECT o_orderpriority, o_orderstatus,
           ROUND(cnt / SUM(cnt) OVER (PARTITION BY o_orderpriority), 9) AS p
    FROM grid
    """,
)
def p14_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.tcloseness import sensitive_distribution

    o = load_table(spark, sf_dir, "orders")
    dist = sensitive_distribution(o, ["o_orderpriority"], "o_orderstatus")
    return dist.select(
        "o_orderpriority", "o_orderstatus", F.round("p", 9).alias("p")
    )


# P15 — filter-count composites: singleton classes (naive-suppresion.py:60-62).
@query(
    "p15_singletons",
    f"""
    WITH {BINNED_CUSTOMER_CTE}, {CLASSES_SQL}
    SELECT CAST(SUM(CASE WHEN class_size = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons,
           COUNT(*) AS n_classes,
           ROUND(SUM(CASE WHEN class_size = 1 THEN 1 ELSE 0 END) / COUNT(*), 9)
             AS singleton_rate
    FROM classes
    """,
)
def p15_singletons(spark: SparkSession, sf_dir: str) -> DataFrame:
    cs = ka.class_sizes(binned_customer(spark, sf_dir), CUST_QI)
    return cs.agg(
        F.sum(F.when(F.col("class_size") == 1, 1).otherwise(0)).alias("n_singletons"),
        F.count(F.lit(1)).alias("n_classes"),
        F.round(
            F.sum(F.when(F.col("class_size") == 1, 1).otherwise(0)) / F.count(F.lit(1)), 9
        ).alias("singleton_rate"),
    )


# P16 — mean of a derived column (naive-suppresion.py:68): the per-row
# 1/class-size risk column averaged. (c05 computes the same metric with the
# telescoped aggregate; this is the literal per-row-derivation primitive.)
@query(
    "p16_mean_derived",
    f"""
    WITH {BINNED_CUSTOMER_CTE},
    w AS (SELECT ROUND(1.0 / COUNT(*) OVER (PARTITION BY c_nationkey, c_mktsegment,
                 acctbal_bin), 9) AS risk FROM binned)
    SELECT ROUND(AVG(risk), 9) AS mean_risk FROM w
    """,
)
def p16_mean_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = binned_customer(spark, sf_dir)
    tagged = ka.with_class_size(b, CUST_QI)
    derived = tagged.select(F.round(F.lit(1.0) / F.col("class_size"), 9).alias("risk"))
    return derived.agg(F.round(F.avg("risk"), 9).alias("mean_risk"))


# P17 — equal-width binning distribution (t-closeness.py:36).
@query(
    "p17_equal_width_bin",
    f"WITH {BINNED_CUSTOMER_CTE} SELECT acctbal_bin, COUNT(*) AS cnt FROM binned GROUP BY 1",
)
def p17_equal_width_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = binned_customer(spark, sf_dir)
    return b.groupBy("acctbal_bin").agg(F.count(F.lit(1)).alias("cnt"))


# P18 — explicit-edge binning with labels (Archived/data-anonymity.py:79-83).
PRICE_EDGES = [0.0, 100000.0, 250000.0, 400000.0, 500000.0]
PRICE_LABELS = ["low", "mid", "high", "top"]


@query(
    "p18_explicit_bin",
    """
    SELECT CASE WHEN o_totalprice > 0.0 AND o_totalprice <= 100000.0 THEN 'low'
                WHEN o_totalprice > 100000.0 AND o_totalprice <= 250000.0 THEN 'mid'
                WHEN o_totalprice > 250000.0 AND o_totalprice <= 400000.0 THEN 'high'
                WHEN o_totalprice > 400000.0 AND o_totalprice <= 500000.0 THEN 'top'
                ELSE NULL END AS price_band,
           COUNT(*) AS cnt
    FROM orders GROUP BY 1
    """,
)
def p18_explicit_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.functions.binning import bin_explicit_edges

    o = load_table(spark, sf_dir, "orders")
    binned = bin_explicit_edges(o, "o_totalprice", PRICE_EDGES, PRICE_LABELS, "price_band")
    return binned.groupBy("price_band").agg(F.count(F.lit(1)).alias("cnt"))


# P19 — per-group range generalization (clustering-anon.py:51) — pure
# built-ins, no UDF: concat_ws('-', min, max).
@query(
    "p19_range_generalize",
    """
    SELECT c_mktsegment,
           CONCAT_WS('-', CAST(CAST(FLOOR(MIN(c_acctbal)) AS BIGINT) AS VARCHAR),
                          CAST(CAST(FLOOR(MAX(c_acctbal)) AS BIGINT) AS VARCHAR))
             AS acctbal_range,
           CONCAT_WS('-', CAST(MIN(c_nationkey) AS VARCHAR),
                          CAST(MAX(c_nationkey) AS VARCHAR)) AS nation_range
    FROM customer GROUP BY c_mktsegment
    """,
)
def p19_range_generalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.concat_ws(
            "-",
            F.floor(F.min("c_acctbal")).cast("long").cast("string"),
            F.floor(F.max("c_acctbal")).cast("long").cast("string"),
        ).alias("acctbal_range"),
        F.concat_ws(
            "-",
            F.min("c_nationkey").cast("string"),
            F.max("c_nationkey").cast("string"),
        ).alias("nation_range"),
    )


# P20 — union of subsets (t-closeness.py:89,118-119).
@query(
    "p20_union",
    """
    SELECT * FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
    UNION ALL
    SELECT * FROM customer WHERE c_acctbal > 5000.0
    """,
)
def p20_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.filter(F.col("c_mktsegment") == "AUTOMOBILE").unionByName(
        c.filter(F.col("c_acctbal") > 5000.0)
    )


# P21 — sorted distinct values with positions (t-closeness.py:62).
@query(
    "p21_sorted_distinct",
    """
    SELECT o_orderstatus, CAST(ROW_NUMBER() OVER (ORDER BY o_orderstatus) AS INT) AS pos
    FROM (SELECT DISTINCT o_orderstatus FROM orders)
    """,
)
def p21_sorted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.tcloseness import sensitive_support

    o = load_table(spark, sf_dir, "orders")
    return sensitive_support(o, "o_orderstatus").select("o_orderstatus", "pos")


# P22 — limit/head with a deterministic order (naive-suppresion.py:24).
@query(
    "p22_limit",
    "SELECT * FROM customer ORDER BY c_custkey LIMIT 5",
)
def p22_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").orderBy("c_custkey").limit(5)


# P23 — scalar arithmetic on aggregates as a single-row relation
# (naive-suppresion.py:49,61). Suppression arithmetic itself is c07.
@query(
    "p23_scalar_arithmetic",
    f"""
    WITH {BINNED_CUSTOMER_CTE}, {CLASSES_SQL}
    SELECT COUNT(*) AS n_classes,
           CAST(SUM(class_size) AS BIGINT) AS n_rows,
           ROUND(SUM(class_size) / COUNT(*), 9) AS avg_class_size,
           ROUND(CAST(SUM(CASE WHEN class_size >= 5 THEN class_size ELSE 0 END) AS BIGINT)
                 / SUM(class_size), 9) AS kept_fraction
    FROM classes
    """,
)
def p23_scalar_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    cs = ka.class_sizes(binned_customer(spark, sf_dir), CUST_QI)
    return cs.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum("class_size").alias("n_rows"),
        F.round(F.sum("class_size") / F.count(F.lit(1)), 9).alias("avg_class_size"),
        F.round(
            F.sum(F.when(F.col("class_size") >= 5, F.col("class_size")).otherwise(0))
            / F.sum("class_size"),
            9,
        ).alias("kept_fraction"),
    )


# --------------------------------------------------------------------------
# §2b composites C2, C5–C8 (C4/C9 in milestone 2, C3/C10 are ML / rows-only).
# --------------------------------------------------------------------------
# --------------------------------------------------------------------------
# C3/C10 — ML-backed ops (rows-only: KMeans/RF won't bit-match any SQL
# oracle; SURVEY §2b marks these rows-only).
# --------------------------------------------------------------------------
@query("c03_cluster_assign")
def c03_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.clustering import cluster_assign

    c = load_table(spark, sf_dir, "customer")
    return cluster_assign(c, ["c_nationkey", "c_mktsegment", "c_acctbal"], 10, 42)


@query("c03_cluster_generalize")
def c03_cluster_generalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.clustering import cluster_anonymize

    c = load_table(spark, sf_dir, "customer")
    _, gen = cluster_anonymize(c, ["c_nationkey", "c_mktsegment", "c_acctbal"], 10, 42)
    return gen


@query("c10_utility_accuracy")
def c10_utility_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.utility import utility_accuracy

    b = binned_customer(spark, sf_dir)
    anon = ka.k_anonymize_suppress(b, CUST_QI, 5)
    return utility_accuracy(
        b,
        anon,
        target="c_mktsegment",
        features=["c_nationkey", "c_acctbal", "acctbal_bin"],
        n_trees=50,
        seed=42,
    )


# --------------------------------------------------------------------------
# C4/C9 — t-closeness (milestone 2). QI = (o_orderpriority, 10-bin
# o_totalprice), sensitive = o_orderstatus, k=5, t=0.05 (per-class EMD at
# sf0.01 spans 0.006-0.112, median 0.04 → both keep and reject paths are
# exercised). The SQL computes the same cumulative-difference EMD with a
# window cumsum; the engine folds it on the driver.
# --------------------------------------------------------------------------
ORD_QI = ["o_orderpriority", "price_bin"]
T_THRESHOLD = 0.05

BINNED_ORDERS_CTE = (
    "obinned AS (SELECT t.*, CAST(CASE WHEN mm.mn = mm.mx THEN 0 ELSE "
    "LEAST(FLOOR((o_totalprice - mm.mn) * 10 / (mm.mx - mm.mn)), 9) END AS INT) AS price_bin "
    "FROM orders t CROSS JOIN "
    "(SELECT MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx FROM orders) mm)"
)

KANON_ORDERS_CTE = (
    "kan AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
    "o_orderpriority, price_bin FROM "
    "(SELECT *, COUNT(*) OVER (PARTITION BY o_orderpriority, price_bin) AS __cnt FROM obinned) "
    "WHERE __cnt >= 5)"
)

# Per-class EMD over kan — the cumsum formulation (SURVEY §2b C4).
EMD_CTES = (
    "sup AS (SELECT o_orderstatus, CAST(ROW_NUMBER() OVER (ORDER BY o_orderstatus) AS INT) "
    "AS pos, COUNT(*) OVER () AS n_vals FROM (SELECT DISTINCT o_orderstatus FROM kan)), "
    "gd AS (SELECT o_orderstatus, COUNT(*) / SUM(COUNT(*)) OVER () AS p_global "
    "FROM kan GROUP BY 1), "
    "cls AS (SELECT o_orderpriority, price_bin, o_orderstatus, COUNT(*) AS cnt "
    "FROM kan GROUP BY 1, 2, 3), "
    "grp AS (SELECT DISTINCT o_orderpriority, price_bin FROM kan), "
    "grid AS (SELECT g.o_orderpriority, g.price_bin, s.o_orderstatus, s.pos, s.n_vals, "
    "COALESCE(c.cnt, 0) AS cnt FROM grp g CROSS JOIN sup s LEFT JOIN cls c "
    "ON c.o_orderpriority = g.o_orderpriority AND c.price_bin = g.price_bin "
    "AND c.o_orderstatus = s.o_orderstatus), "
    "dist AS (SELECT *, cnt / SUM(cnt) OVER (PARTITION BY o_orderpriority, price_bin) AS p "
    "FROM grid), "
    "cum AS (SELECT d.*, g.p_global, SUM(d.p - g.p_global) OVER "
    "(PARTITION BY o_orderpriority, price_bin ORDER BY d.pos) AS cumd "
    "FROM dist d JOIN gd g USING (o_orderstatus)), "
    "emd AS (SELECT o_orderpriority, price_bin, "
    "ROUND(SUM(CASE WHEN pos < n_vals THEN ABS(cumd) ELSE 0 END), 9) AS emd "
    "FROM cum GROUP BY 1, 2)"
)


def binned_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bin_equal_width(load_table(spark, sf_dir, "orders"), "o_totalprice", 10, "price_bin")


@query(
    "c04_class_emd",
    f"WITH {BINNED_ORDERS_CTE}, {KANON_ORDERS_CTE}, {EMD_CTES} SELECT * FROM emd",
)
def c04_class_emd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.tcloseness import class_emd

    kanon = ka.k_anonymize_suppress(binned_orders(spark, sf_dir), ORD_QI, 5)
    return class_emd(kanon, ORD_QI, "o_orderstatus")


@query(
    "c04_t_closeness_strict",
    f"""
    WITH {BINNED_ORDERS_CTE}, {KANON_ORDERS_CTE}, {EMD_CTES}
    SELECT k.* FROM kan k
    JOIN (SELECT o_orderpriority, price_bin FROM emd WHERE emd <= {T_THRESHOLD}) ok
      USING (o_orderpriority, price_bin)
    """,
)
def c04_t_closeness_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.tcloseness import t_closeness_filter

    return t_closeness_filter(
        binned_orders(spark, sf_dir), ORD_QI, "o_orderstatus", k=5, t=T_THRESHOLD, mode="strict"
    )


@query(
    "c04_t_closeness_reference",
    f"WITH {BINNED_ORDERS_CTE}, {KANON_ORDERS_CTE} SELECT * FROM kan",
)
def c04_t_closeness_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.tcloseness import t_closeness_filter

    return t_closeness_filter(
        binned_orders(spark, sf_dir), ORD_QI, "o_orderstatus", k=5, t=T_THRESHOLD, mode="reference"
    )


@query(
    "x08_l_diversity",
    f"""
    WITH {BINNED_ORDERS_CTE},
    stats AS (SELECT o_orderpriority, price_bin,
                     COUNT(DISTINCT o_orderstatus) AS nsv, COUNT(*) AS sz
              FROM obinned GROUP BY 1, 2)
    SELECT b.* FROM obinned b
    JOIN (SELECT o_orderpriority, price_bin FROM stats WHERE nsv >= 2 AND sz >= 5) ok
      USING (o_orderpriority, price_bin)
    """,
)
def x08_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.tcloseness import l_diversity_filter

    b = binned_orders(spark, sf_dir)
    return l_diversity_filter(b, ORD_QI, "o_orderstatus", l=2, k=5)


@query(
    "c09_t_violations",
    f"""
    WITH {BINNED_ORDERS_CTE}, {KANON_ORDERS_CTE}, {EMD_CTES}
    SELECT CAST(SUM(CASE WHEN emd > {T_THRESHOLD} THEN 1 ELSE 0 END) AS BIGINT) AS violations,
           COUNT(*) AS total_groups,
           ROUND(SUM(CASE WHEN emd > {T_THRESHOLD} THEN 1 ELSE 0 END) / COUNT(*), 9)
             AS violation_rate
    FROM emd
    """,
)
def c09_t_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.tcloseness import t_violations

    kanon = ka.k_anonymize_suppress(binned_orders(spark, sf_dir), ORD_QI, 5)
    return t_violations(kanon, ORD_QI, "o_orderstatus", t=T_THRESHOLD)


# --------------------------------------------------------------------------
# §2c extensions X1-X6 + training-data pipeline operators.
# --------------------------------------------------------------------------
@query("x01_dp_count")
def x01_dp_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-noised group counts (rows-only: noise is seeded+deterministic
    but not reproducible in DuckDB; the pre-noise aggregate is the
    oracle-checked p13/x01_dp_count_exact path)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_count

    li = load_table(spark, sf_dir, "lineitem")
    return dp_count(
        li, ["l_returnflag", "l_linestatus"], epsilon=1.0, seed=42, release="x01_dp_count"
    )


@query(
    "x01_dp_count_exact",
    "SELECT l_returnflag, l_linestatus, COUNT(*) AS count_exact "
    "FROM lineitem GROUP BY 1, 2",
)
def x01_dp_count_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_count

    li = load_table(spark, sf_dir, "lineitem")
    return dp_count(
        li, ["l_returnflag", "l_linestatus"], epsilon=1.0, seed=42, release="x01_dp_count"
    ).drop(
        "count_dp"
    )


@query(
    "x01_dp_histogram_exact",
    """
    WITH b AS (SELECT CAST(LEAST(FLOOR(
                 (LEAST(GREATEST(l_quantity, 0.0), 50.0) - 0.0) * 20 / 50.0), 19) AS INT) AS bin,
               COUNT(*) AS c
          FROM lineitem GROUP BY 1)
    SELECT s.bin, COALESCE(b.c, 0) AS count_exact
    FROM (SELECT CAST(range AS INT) AS bin FROM range(0, 20)) s LEFT JOIN b USING (bin)
    """,
)
def x01_dp_histogram_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_histogram

    li = load_table(spark, sf_dir, "lineitem")
    return dp_histogram(
        li, "l_quantity", 20, epsilon=1.0, lower=0.0, upper=50.0, seed=42,
        release="x01_dp_histogram_exact",
    ).drop("count_dp")


@query("x01_dp_histogram")
def x01_dp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_histogram

    li = load_table(spark, sf_dir, "lineitem")
    return dp_histogram(
        li, "l_quantity", 20, epsilon=1.0, lower=0.0, upper=50.0, seed=42,
        release="x01_dp_histogram",
    )


@query("x01_dp_sum")
def x01_dp_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_sum

    li = load_table(spark, sf_dir, "lineitem")
    return dp_sum(
        li, ["l_returnflag"], "l_extendedprice", epsilon=1.0, lower=0.0,
        upper=100000.0, release="x01_dp_sum",
    )


@query(
    "x01_dp_sum_exact",
    """
    SELECT l_returnflag,
           ROUND(SUM(LEAST(GREATEST(l_extendedprice, 0.0), 100000.0)), 6) AS sum_exact_r
    FROM lineitem GROUP BY 1
    """,
)
def x01_dp_sum_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-noise clipped sum — the oracle-checkable core of dp_sum."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_sum

    li = load_table(spark, sf_dir, "lineitem")
    out = dp_sum(
        li, ["l_returnflag"], "l_extendedprice", epsilon=1.0, lower=0.0,
        upper=100000.0, release="x01_dp_sum_exact",
    )
    return out.select("l_returnflag", F.round("sum_exact", 6).alias("sum_exact_r"))


@query(
    "x01_dp_avg_exact",
    """
    SELECT event_type,
           ROUND(SUM(LEAST(GREATEST(value, 0.0), 1000.0)) / COUNT(*), 6) AS avg_exact_r
    FROM events GROUP BY 1
    """,
)
def x01_dp_avg_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-noise clipped mean — the oracle-checkable core of dp_avg."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_avg

    ev = load_table(spark, sf_dir, "events")
    out = dp_avg(
        ev, ["event_type"], "value", epsilon=1.0, lower=0.0, upper=1000.0,
        release="x01_dp_avg_exact",
    )
    return out.select("event_type", F.round("avg_exact", 6).alias("avg_exact_r"))


@query("x01_dp_avg")
def x01_dp_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_avg

    ev = load_table(spark, sf_dir, "events")
    return dp_avg(
        ev, ["event_type"], "value", epsilon=1.0, lower=0.0, upper=1000.0,
        release="x01_dp_avg",
    )


@query("x01_dp_count_gaussian")
def x01_dp_count_gaussian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(eps, delta)-DP counts via the Gaussian mechanism (rows-only: the
    pre-noise aggregate is oracle-checked by x01_dp_count_exact — same
    grouping, mechanism-independent)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_count_gaussian

    li = load_table(spark, sf_dir, "lineitem")
    return dp_count_gaussian(
        li, ["l_returnflag", "l_linestatus"], epsilon=0.5, delta=1e-6, seed=42,
        release="x01_dp_count_gaussian",
    )


@query("x01_dp_mode")
def x01_dp_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential-mechanism modal language per source (rows-only: the
    selection is randomized; the pre-noise argmax is x01_dp_mode_exact)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_mode

    docs = load_table(spark, sf_dir, "documents")
    return dp_mode(
        docs, ["source"], "lang", epsilon=1.0, seed=42, release="x01_dp_mode",
        candidates=PUBLIC_LANGS,
    )


@query("x01_dp_quantile")
def x01_dp_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential-mechanism DP median of l_quantity per returnflag
    (rows-only: randomized selection; pre-noise argmax is
    x01_dp_quantile_exact)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_quantile

    li = load_table(spark, sf_dir, "lineitem")
    return dp_quantile(
        li, ["l_returnflag"], "l_quantity", q=0.5, epsilon=1.0, lower=0.0,
        upper=60.0, seed=42, release="x01_dp_quantile",
    )


@query(
    "x01_dp_quantile_exact",
    """
    WITH c AS (SELECT l_returnflag, l_quantity, COUNT(*) AS c FROM lineitem
               WHERE l_quantity IS NOT NULL GROUP BY 1, 2),
    w AS (SELECT l_returnflag, l_quantity,
                 SUM(c) OVER (PARTITION BY l_returnflag ORDER BY l_quantity) - c AS below,
                 SUM(c) OVER (PARTITION BY l_returnflag) AS n
          FROM c),
    s AS (SELECT l_returnflag, l_quantity,
                 ROUND(-ABS(below - 0.5 * n), 9) AS score_exact FROM w)
    SELECT l_returnflag, l_quantity, score_exact FROM s
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY l_returnflag ORDER BY score_exact DESC, l_quantity DESC) = 1
    """,
)
def x01_dp_quantile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-noise core of dp_quantile: the rank-utility argmax (the true
    median candidate), ties broken by max value as in the max-struct plan."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import quantile_scores

    li = load_table(spark, sf_dir, "lineitem")
    scores = quantile_scores(li, ["l_returnflag"], "l_quantity", 0.5)
    winner = scores.groupBy("l_returnflag").agg(
        F.max(F.struct("score", "l_quantity")).alias("__w")
    )
    return winner.select(
        "l_returnflag",
        F.col("__w.l_quantity").alias("l_quantity"),
        F.col("__w.score").alias("score_exact"),
    )


@query("x01_dp_topk")
def x01_dp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-shot Gumbel top-3 languages per source (rows-only: randomized
    selection; the pre-noise ranking is x01_dp_topk_exact)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_topk

    docs = load_table(spark, sf_dir, "documents")
    return dp_topk(
        docs, ["source"], "lang", k=3, epsilon=1.0, seed=42, release="x01_dp_topk",
        candidates=PUBLIC_LANGS,
    )


@query(
    "x01_dp_topk_exact",
    """
    WITH s AS (SELECT source, lang, COUNT(*) AS score_exact FROM documents GROUP BY 1, 2),
    r AS (SELECT source, lang, score_exact,
                 ROW_NUMBER() OVER (
                     PARTITION BY source ORDER BY score_exact DESC, lang DESC) AS rank
          FROM s)
    SELECT source, lang, score_exact, CAST(rank AS INT) AS rank FROM r WHERE rank <= 3
    """,
)
def x01_dp_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-noise core of dp_topk: the true count ranking with the same
    deterministic tie-break (count desc, candidate desc)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    scores = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("score_exact"))
    w = Window.partitionBy("source").orderBy(F.desc("score_exact"), F.desc("lang"))
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("source", "lang", "score_exact", "rank")
    )


@query(
    "x01_dp_mode_exact",
    """
    WITH s AS (SELECT source, lang, COUNT(*) AS score_exact FROM documents GROUP BY 1, 2)
    SELECT source, lang, score_exact FROM s
    QUALIFY ROW_NUMBER() OVER (PARTITION BY source ORDER BY score_exact DESC, lang DESC) = 1
    """,
)
def x01_dp_mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-noise core of dp_mode: per-group argmax-by-count (ties broken by
    max candidate, matching the max-struct physical plan)."""
    docs = load_table(spark, sf_dir, "documents")
    scores = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("score_exact"))
    winner = scores.groupBy("source").agg(
        F.max(F.struct("score_exact", "lang")).alias("__w")
    )
    return winner.select(
        "source", F.col("__w.lang").alias("lang"), F.col("__w.score_exact").alias("score_exact")
    )


@query(
    "x09_json_props",
    """
    WITH e AS (SELECT event_type,
                      CASE WHEN json_valid(props)
                           THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
                           END AS k
               FROM events)
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           CAST(SUM(k) AS DOUBLE) / COUNT(*) AS avg_k
    FROM e GROUP BY 1
    """,
)
def x09_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extension: typed from_json parse of the events
    props column (one Jackson parse per row, JVM-side) + per-type rollup.
    sources/readers.py with_parsed_props.

    Oracle-canonicalization notes (r2 driver hash-mismatch root cause):
    DuckDB ``SUM(BIGINT)`` returns HUGEINT (int128), which value-hashes
    differently from Spark's LongType even when numerically equal — so the
    oracle re-casts to BIGINT. And ``ROUND(AVG(double))`` can differ in the
    last bit between engines' accumulation orders, so both sides derive the
    average as ONE IEEE-754 division ``sum_k / n`` of bit-identical inputs,
    which is deterministic across engines."""
    from dbms_data_anonymity_differential_privacy_spark.sources.readers import with_parsed_props

    ev = with_parsed_props(load_table(spark, sf_dir, "events"))
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("props_parsed.k")).alias("sum_k"),
        )
        .withColumn("avg_k", F.col("sum_k").cast("double") / F.col("n"))
    )


@query("x01_svt")
def x01_svt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse Vector Technique: above-threshold event types, halting after
    c=2 positive answers (rows-only: randomized; the noise-free stream is
    x01_svt_exact)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_above_threshold

    ev = load_table(spark, sf_dir, "events")
    return dp_above_threshold(
        ev, ["event_type"], threshold=2000.5, epsilon=1.0, c=2, seed=42, release="x01_svt"
    )


@query(
    "x01_svt_exact",
    """
    WITH s AS (SELECT event_type, COUNT(*) AS count_exact FROM events GROUP BY 1),
    o AS (SELECT event_type, count_exact, (count_exact >= 2000.5) AS above,
                 SUM(CASE WHEN count_exact >= 2000.5 THEN 1 ELSE 0 END)
                     OVER (ORDER BY event_type) AS cum
          FROM s)
    SELECT event_type, above, count_exact FROM o
    WHERE cum - (CASE WHEN above THEN 1 ELSE 0 END) < 2
    """,
)
def x01_svt_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Noise-free core of the SVT release: same stream order and halt
    semantics with epsilon -> inf (noise scales ~1e-9 against a 0.5
    threshold gap — cannot flip an answer)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_above_threshold

    ev = load_table(spark, sf_dir, "events")
    return dp_above_threshold(
        ev, ["event_type"], threshold=2000.5, epsilon=1e9, c=2, seed=42,
        release="x01_svt_exact",
    )


@query(
    "x01_dp_noise_moments",
    """
    -- Laplace-mechanism moment audit over a seeded 1000-group grid.
    -- The noise rides Spark's xxhash64 (deterministic per (key, seed,
    -- salt) by design and NOT replayable in SQL), so the oracle pins the
    -- expected release: verdicts from closed-form bounds (which must be
    -- TRUE for a correct inverse-CDF transform) plus the sorted-fold
    -- moments measured once from the deterministic draw. A broken
    -- transform (sign fold, 1-2|u| slip, scale miscalibration) shifts
    -- every pinned moment and flips at least one verdict.
    SELECT CAST(1000 AS BIGINT) AS n_groups, 1.0 AS scale_r,
           0.050829 AS mean_r, 2.142958 AS m2_r, 0.498 AS frac_small_r,
           TRUE AS mean_ok, TRUE AS m2_ok, TRUE AS frac_ok
    """,
)
def x01_dp_noise_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form moment audit of the production Laplace noise path —
    the driver-visible hard signal for the otherwise rows-only X1 noise
    family (sf-independent by construction)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_noise_moments

    return dp_noise_moments(spark)


@query(
    "x01_dp_noise_moments_gauss",
    """
    -- Box-Muller Gaussian-mechanism moment audit (same design as the
    -- Laplace twin above): verdicts from closed-form bounds plus the
    -- sorted-fold moments of the deterministic draw, pinned as literals.
    -- epsilon = 0.5 explicitly: the classic mechanism's calibration only
    -- holds for epsilon in (0, 1) and the operator now REJECTS values
    -- outside it instead of silently capping; sigma = sqrt(2 ln 1.25e6)
    -- / 0.5 = 10.597605 rides the row as scale_r (m2_r ~= sigma^2).
    SELECT CAST(1000 AS BIGINT) AS n_groups, 10.597605 AS scale_r,
           -0.11999 AS mean_r, 106.903207 AS m2_r, 0.495 AS frac_small_r,
           TRUE AS mean_ok, TRUE AS m2_ok, TRUE AS frac_ok
    """,
)
def x01_dp_noise_moments_gauss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form moment audit of the production Gaussian (Box-Muller)
    noise path — the x68/x01-gaussian family's hard signal."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_noise_moments

    return dp_noise_moments(spark, mechanism="gaussian", epsilon=0.5)


@query(
    "x02_dedup_exact",
    """
    SELECT doc_id, text, lang, source, n_chars FROM documents
    QUALIFY ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) = 1
    """,
)
def x02_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import dedup_exact

    docs = load_table(spark, sf_dir, "documents")
    return dedup_exact(docs, ["text"], "doc_id")


@query(
    "x02_dedup_fingerprint",
    """
    WITH fp AS (SELECT *, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS __fp
                FROM documents)
    SELECT doc_id, text, lang, source, n_chars FROM fp
    QUALIFY ROW_NUMBER() OVER (PARTITION BY __fp ORDER BY doc_id) = 1
    """,
)
def x02_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import dedup_by_fingerprint

    docs = load_table(spark, sf_dir, "documents")
    return dedup_by_fingerprint(docs)


# Shingle CTEs shared by the Jaccard oracle (DuckDB list comprehension of
# word trigrams — the exact twin of operators.dedup.shingles(n=3)).
SHINGLE_CTES = (
    "t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks "
    "FROM documents), "
    "sh AS (SELECT doc_id, list_distinct(list_transform("
    "generate_series(1, greatest(len(toks) - 2, 0)), "
    "i -> array_to_string(toks[i:i+2], ' '))) AS s FROM t), "
    "e AS (SELECT doc_id, len(s) AS ns, unnest(s) AS shingle FROM sh)"
)


@query(
    "x03_ngram_jaccard",
    f"""
    WITH {SHINGLE_CTES},
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ns AS na, b.ns AS nb,
                 COUNT(*) AS inter
          FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4)
    SELECT id_a, id_b, ROUND(inter / (na + nb - inter), 9) AS jaccard
    FROM p WHERE ROUND(inter / (na + nb - inter), 9) >= 0.2
    """,
)
def x03_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold=0.2, n=3)


@query(
    "x03_dedup_corpus",
    """
    WITH d1 AS (SELECT doc_id, text, lang, source, n_chars FROM documents
                QUALIFY ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) = 1),
    t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM d1),
    sh AS (SELECT doc_id, list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 2, 0)),
           i -> array_to_string(toks[i:i+2], ' '))) AS s FROM t),
    e AS (SELECT doc_id, len(s) AS ns, unnest(s) AS shingle FROM sh),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ns AS na, b.ns AS nb,
                 COUNT(*) AS inter
          FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4),
    drop_ids AS (SELECT DISTINCT id_b FROM p
                 WHERE ROUND(inter / (na + nb - inter), 9) >= 0.2)
    SELECT d1.* FROM d1 WHERE doc_id NOT IN (SELECT id_b FROM drop_ids)
    """,
)
def x03_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level dedup composite: exact + n-gram-Jaccard near-dup with
    greedy representative keeping (oracle-checked end to end)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import near_dedup_corpus

    docs = load_table(spark, sf_dir, "documents")
    return near_dedup_corpus(docs, threshold=0.2, n=3, method="jaccard")


@query(
    "x03_dedup_corpus_cc",
    """
    WITH RECURSIVE d1 AS (SELECT doc_id, text, lang, source, n_chars FROM documents
                QUALIFY ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) = 1),
    t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM d1),
    sh AS (SELECT doc_id, list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 2, 0)),
           i -> array_to_string(toks[i:i+2], ' '))) AS s FROM t),
    e AS (SELECT doc_id, len(s) AS ns, unnest(s) AS shingle FROM sh),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ns AS na, b.ns AS nb,
                 COUNT(*) AS inter
          FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4),
    pe AS (SELECT id_a, id_b FROM p WHERE ROUND(inter / (na + nb - inter), 9) >= 0.2),
    sym AS (SELECT id_a AS a, id_b AS b FROM pe
            UNION ALL SELECT id_b AS a, id_a AS b FROM pe),
    reach(id, anc) AS (SELECT DISTINCT a AS id, a AS anc FROM sym
                       UNION
                       SELECT s.b AS id, r.anc FROM reach r JOIN sym s ON s.a = r.id),
    comp AS (SELECT id, MIN(anc) AS comp FROM reach GROUP BY id)
    SELECT d1.* FROM d1
    WHERE doc_id NOT IN (SELECT id FROM comp WHERE comp <> id)
    """,
)
def x03_dedup_corpus_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus dedup with exact transitive closure: connected components of
    the near-dup pair graph via bounded-iteration min-label propagation
    (dedup.py connected_components), oracle-checked against a DuckDB
    WITH RECURSIVE reachability closure — a genuinely iterative operator
    with a hash-checkable oracle."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import near_dedup_corpus

    docs = load_table(spark, sf_dir, "documents")
    return near_dedup_corpus(docs, threshold=0.2, n=3, method="jaccard", policy="components")


@query("x03_minhash_lsh")
def x03_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, threshold=0.8, n=3)


@query("x03_simhash")
def x03_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import simhash_pairs

    docs = load_table(spark, sf_dir, "documents")
    return simhash_pairs(docs, max_hamming=3)


@query("x03_simhash_topm")
def x03_simhash_topm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-output SimHash neighbor lists (rows-only: SimHash is the
    approximate detector; equivalence to the uncapped pair set is pinned
    in tests/test_extensions.py)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import simhash_pairs_topm

    docs = load_table(spark, sf_dir, "documents")
    return simhash_pairs_topm(docs, m=5, max_hamming=3)


# Cosine helpers for the DuckDB side: dot as list_dot_product on
# DOUBLE-cast lists (same sequential accumulation as the Spark fold).
def _duck_cos(a: str, b: str) -> str:
    def dot(x: str, y: str) -> str:
        return f"list_dot_product(CAST({x} AS DOUBLE[]), CAST({y} AS DOUBLE[]))"

    return f"{dot(a, b)} / (sqrt({dot(a, a)}) * sqrt({dot(b, b)}))"


@query(
    "x04_cosine_topk",
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, ROUND({_duck_cos('e.embedding', 'q.qv')}, 6) AS cos
    FROM embeddings e CROSS JOIN q
    ORDER BY cos DESC, vec_id LIMIT 10
    """,
)
def x04_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return cosine_topk(emb, [float(x) for x in qvec], k=10)


@query(
    "x04_cosine_pairs",
    f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND({_duck_cos('a.embedding', 'b.embedding')}, 6) AS cos
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE ROUND({_duck_cos('a.embedding', 'b.embedding')}, 6) >= 0.3
    """,
)
def x04_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.similarity import (
        cosine_self_join_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_self_join_pairs(emb, threshold=0.3, block_col="label")


@query(
    "x04_cosine_pairs_topm",
    f"""
    WITH p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                      ROUND({_duck_cos('a.embedding', 'b.embedding')}, 6) AS cos
               FROM embeddings a JOIN embeddings b
                 ON a.label = b.label AND a.vec_id <> b.vec_id),
    r AS (SELECT id_a, id_b, cos,
                 CAST(ROW_NUMBER() OVER (PARTITION BY id_a
                      ORDER BY cos DESC NULLS LAST, id_b) AS INTEGER) AS rnk
          FROM p)
    SELECT id_a, id_b, cos, rnk FROM r WHERE rnk <= 5
    """,
)
def x04_cosine_pairs_topm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-output pair emission: each vector's top-5 nearest same-label
    neighbors (<= n*5 rows however similar the corpus is). Label blocking
    bounds candidate generation exactly as in x04_cosine_pairs; the rank
    filter runs as a map-side WindowGroupLimit partial top-k, so neither
    the candidate score stream nor the output materializes all pairs. The
    oracle is the literal per-key LIMIT semantics. impl='sql' is pinned
    here because this is the oracle-bit-exact hash path; the operator's
    DEFAULT for blocked inputs is the ~20x-faster arrow/BLAS flavor
    (x04_cosine_pairs_topm_arrow, equivalence-tested)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.similarity import (
        cosine_pairs_topm,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_pairs_topm(emb, m=5, block_col="label", impl="sql")


@query("x04_cosine_pairs_topm_arrow")
def x04_cosine_pairs_topm_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLAS flavor of the capped pair emitter (rows-only: float
    accumulation order differs from the sequential fold at the last bit;
    equivalence to the sql flavor is pinned in tests/test_extensions.py)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.similarity import (
        cosine_pairs_topm,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_pairs_topm(emb, m=5, block_col="label", impl="arrow")


@query("x04_embedding_near_dup")
def x04_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-free LSH-blocked embedding near-dup (rows-only: approximate)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.similarity import embedding_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, threshold=0.5, n_planes=6)


@query("x04_embedding_dedup")
def x04_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level corpus dedup: LSH-blocked cosine pairs + connected
    components, min-id representative per semantic-duplicate cluster
    (rows-only: LSH-approximate; pair-graph consistency pinned in
    tests/test_extensions.py)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.similarity import embedding_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_dedup(emb, threshold=0.9, n_planes=8)


@query("x04_ann_ivf_topk")
def x04_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k (rows-only: KMeans quantizer)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.similarity import ivf_index, ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    indexed, centroids = ivf_index(emb, n_lists=8, seed=42)
    return ivf_topk(indexed, centroids, [float(x) for x in qvec], k=10, n_probe=3)


@query("x04_ann_lsh_topk")
def x04_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.similarity import ann_topk_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return ann_topk_lsh(emb, [float(x) for x in qvec], k=10, n_planes=4)


# Text analysis — DuckDB twins of the operators.text expressions.
_BPE_SQL = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r]"
_EN_SQL = "\\b(the|and|of|to|in)\\b"


@query(
    "x05_text_features",
    f"""
    SELECT doc_id,
           LENGTH(text) AS n_chars_calc,
           CASE WHEN TRIM(text) = '' THEN 0
                ELSE len(string_split_regex(TRIM(text), '\\s+')) END AS n_tokens,
           len(regexp_extract_all(text, '{_BPE_SQL}')) AS n_bpe_tokens,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
           ROUND(LEAST(LENGTH(text) / 200.0, 1.0)
                 * (1.0 - CASE WHEN LENGTH(text) > 0
                     THEN LENGTH(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
                          / LENGTH(text)
                     ELSE 1.0 END)
                 * LEAST(0.5 + len(regexp_extract_all(text, '{_EN_SQL}')) / 10.0, 1.0),
             9) AS quality
    FROM documents
    """,
)
def x05_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators import text as tx

    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.length(t).alias("n_chars_calc"),
        tx.token_count(t).alias("n_tokens"),
        tx.bpe_ish_token_count(t).alias("n_bpe_tokens"),
        tx.fingerprint(t).alias("fingerprint"),
        tx.quality_score(t).alias("quality"),
    )


# DuckDB twin of operators.text.lang_id: per-probe hit counts, argmax with
# probe-order tie-break ('und' when no probe hits).
_LANG_SCORE_CTE = (
    "ls AS (SELECT lang, "
    + ", ".join(
        # COALESCE: NULL text scores 0 everywhere -> 'und', matching the
        # engine (a NULL score would fall through the CASE to 'zh')
        f"len(regexp_extract_all(lower(COALESCE(text, '')), '{pat}')) AS s_{lg}"
        for lg, pat in (
            ("en", r"\b(the|and|of|to|in)\b"),
            ("de", r"\b(der|die|und|das|ist)\b"),
            ("fr", r"\b(le|la|les|et|est)\b"),
            ("es", r"\b(el|los|las|es|una)\b"),
            ("zh", "[一-鿿]"),
        )
    )
    + " FROM documents)"
)


@query(
    "x05_lang_id",
    f"""
    WITH {_LANG_SCORE_CTE},
    p AS (SELECT lang,
                 CASE WHEN GREATEST(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'und'
                      WHEN s_en = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'en'
                      WHEN s_de = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'de'
                      WHEN s_fr = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'fr'
                      WHEN s_es = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'es'
                      ELSE 'zh' END AS lang_pred
          FROM ls)
    SELECT lang, lang_pred, COUNT(*) AS cnt FROM p GROUP BY 1, 2
    """,
)
def x05_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID prediction breakdown per true language."""
    from dbms_data_anonymity_differential_privacy_spark.operators import text as tx

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", tx.lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "x05_text_stats",
    f"""
    WITH f AS (
      SELECT lang,
             LENGTH(text) AS n_chars_calc,
             CASE WHEN TRIM(text) = '' THEN 0
                  ELSE len(string_split_regex(TRIM(text), '\\s+')) END AS n_tokens,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
             ROUND(LEAST(LENGTH(text) / 200.0, 1.0)
                   * (1.0 - CASE WHEN LENGTH(text) > 0
                       THEN LENGTH(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
                            / LENGTH(text)
                       ELSE 1.0 END)
                   * LEAST(0.5 + len(regexp_extract_all(text, '{_EN_SQL}')) / 10.0, 1.0),
               9) AS quality
      FROM documents)
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(AVG(n_chars_calc), 9) AS avg_chars,
           ROUND(AVG(quality), 9) AS avg_quality,
           COUNT(DISTINCT fingerprint) AS n_unique_fingerprints
    FROM f GROUP BY lang
    """,
)
def x05_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.text import text_stats

    return text_stats(load_table(spark, sf_dir, "documents"))


@query(
    "x06_stream_window_kanon",
    """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           event_type, COUNT(*) AS cnt
    FROM events GROUP BY 1, 2 HAVING COUNT(*) >= 5
    """,
)
def x06_stream_window_kanon(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.streaming.anonymize import windowed_kanon_batch

    ev = load_table(spark, sf_dir, "events")
    return windowed_kanon_batch(ev, k=5, window="1 hour")


@query(
    "x06_kanon_gate",
    "SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY 1 HAVING COUNT(*) >= 50",
)
def x06_kanon_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stateful streaming release gate
    (streaming/stateful.py; stream-vs-batch equivalence pytest-asserted)."""
    from dbms_data_anonymity_differential_privacy_spark.streaming.stateful import kanon_gate_batch

    ev = load_table(spark, sf_dir, "events")
    return kanon_gate_batch(ev, k=50)


@query(
    "x06_dedup_stream",
    """
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props
    FROM events
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY event_id) = 1
    """,
)
def x06_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming watermarked dedup
    (streaming/dedup.py: dropDuplicatesWithinWatermark; stream-vs-batch
    key-set equivalence pytest-asserted)."""
    from dbms_data_anonymity_differential_privacy_spark.streaming.dedup import dedup_events_batch

    ev = load_table(spark, sf_dir, "events")
    return dedup_events_batch(ev, ("user_id", "event_type"))


@query(
    "x06_dp_stream_release_exact",
    """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           event_type, COUNT(*) AS count_exact
    FROM events GROUP BY 1, 2
    """,
)
def x06_dp_stream_release_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-noise core of the streaming DP release (the windowed counts)."""
    from dbms_data_anonymity_differential_privacy_spark.streaming.anonymize import (
        dp_windowed_count_batch,
    )

    ev = load_table(spark, sf_dir, "events")
    return dp_windowed_count_batch(ev, epsilon=1.0, window="1 hour", seed=42).drop("count_dp")


@query("x06_dp_stream_release")
def x06_dp_stream_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DP windowed release, batch twin (rows-only: includes the noise
    column; stream-vs-batch BYTE-identity — noise included — is
    pytest-asserted, the strongest check in the streaming suite)."""
    from dbms_data_anonymity_differential_privacy_spark.streaming.anonymize import (
        dp_windowed_count_batch,
    )

    ev = load_table(spark, sf_dir, "events")
    return dp_windowed_count_batch(ev, epsilon=1.0, window="1 hour", seed=42)


@query(
    "c02_k_anonymity_audit",
    f"""
    WITH {BINNED_CUSTOMER_CTE}, {CLASSES_SQL}
    SELECT COUNT(*) AS n_classes,
           MIN(class_size) AS min_class_size,
           MAX(class_size) AS max_class_size,
           CAST(SUM(CASE WHEN class_size < 5 THEN 1 ELSE 0 END) AS BIGINT) AS classes_below_k,
           CAST(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END) AS BIGINT)
             AS rows_at_risk,
           MIN(class_size) >= 5 AS k_satisfied
    FROM classes
    """,
)
def c02_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ka.k_anonymity_audit(binned_customer(spark, sf_dir), CUST_QI, 5)


@query("c11_resource_report")
def c11_resource_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.metrics import resource_report

    return resource_report(spark)


# --------------------------------------------------------------------------
# Pipeline composites — the three reference entry points end to end
# (SURVEY §3.1-§3.3), metrics as one oracle-checked row each (clustering is
# rows-only: MLlib KMeans, SURVEY §2b C3).
# --------------------------------------------------------------------------
ANON_CUSTOMER_CTES = (
    f"{BINNED_CUSTOMER_CTE}, "
    "f AS (SELECT *, COUNT(*) OVER (PARTITION BY c_nationkey, c_mktsegment, acctbal_bin) "
    "AS __cnt FROM binned), "
    "anon AS (SELECT * FROM f WHERE __cnt >= 5)"
)


@query(
    "pipe_naive_metrics",
    f"""
    WITH {ANON_CUSTOMER_CTES},
    acls AS (SELECT c_nationkey, c_mktsegment, acctbal_bin, COUNT(*) AS cs
             FROM anon GROUP BY 1, 2, 3),
    base AS (SELECT (SELECT COUNT(*) FROM binned) AS n_orig,
                    (SELECT COUNT(*) FROM anon) AS n_anon)
    SELECT b.n_orig, b.n_anon,
           ROUND((b.n_orig - b.n_anon) / b.n_orig, 9) AS suppression_rate,
           (SELECT COALESCE(MIN(cs), 0) FROM acls) AS min_class_size,
           (SELECT COALESCE(MIN(cs) >= 5, FALSE) FROM acls) AS k_satisfied,
           (SELECT ROUND(SUM(CASE WHEN cs = 1 THEN 1 ELSE 0 END) / SUM(cs), 9) FROM acls)
             AS uniqueness_rate,
           (SELECT ROUND(AVG(1.0 / __cnt), 9) FROM anon) AS reid_risk,
           (SELECT ROUND(((
                (SELECT COUNT(DISTINCT c_nationkey) FROM binned)
                  - (SELECT COUNT(DISTINCT c_nationkey) FROM anon))
                / (SELECT COUNT(DISTINCT c_nationkey) FROM binned)
              + ((SELECT COUNT(DISTINCT c_mktsegment) FROM binned)
                  - (SELECT COUNT(DISTINCT c_mktsegment) FROM anon))
                / (SELECT COUNT(DISTINCT c_mktsegment) FROM binned)
              + ((SELECT COUNT(DISTINCT acctbal_bin) FROM binned)
                  - (SELECT COUNT(DISTINCT acctbal_bin) FROM anon))
                / (SELECT COUNT(DISTINCT acctbal_bin) FROM binned)) / 3, 9)) AS ncp
    FROM base b
    """,
)
def pipe_naive_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark import pipelines

    b = binned_customer(spark, sf_dir)
    return pipelines.naive_suppression_pipeline(b, CUST_QI, k=5)["metrics"]


def _emd_ctes_for(src: str, qi: Sequence[str], sensitive: str, pfx: str) -> str:
    """DuckDB CTE chain computing per-class EMD of ``sensitive`` vs the
    global distribution of relation ``src`` — the SQL twin of
    ``operators.tcloseness.class_emd``. The engine folds the cumulative
    differences over the sorted support on the driver, from its collected
    (class, sensitive value, count) table; this twin builds the same sum
    with a zero-filled grid and a window cumsum, and both round to 9 dp."""
    q = ", ".join(qi)
    g_cols = ", ".join(f"g.{c}" for c in qi)
    on_grp = " AND ".join(f"c.{c} = g.{c}" for c in qi)
    return (
        f"{pfx}sup AS (SELECT {sensitive}, CAST(ROW_NUMBER() OVER (ORDER BY {sensitive}) AS INT)"
        f" AS pos, COUNT(*) OVER () AS n_vals FROM (SELECT DISTINCT {sensitive} FROM {src})), "
        f"{pfx}gd AS (SELECT {sensitive}, COUNT(*) / SUM(COUNT(*)) OVER () AS p_global"
        f" FROM {src} GROUP BY 1), "
        f"{pfx}cls AS (SELECT {q}, {sensitive}, COUNT(*) AS cnt FROM {src} GROUP BY ALL), "
        f"{pfx}grp AS (SELECT DISTINCT {q} FROM {src}), "
        f"{pfx}grid AS (SELECT {g_cols}, s.{sensitive}, s.pos, s.n_vals, COALESCE(c.cnt, 0) AS cnt"
        f" FROM {pfx}grp g CROSS JOIN {pfx}sup s"
        f" LEFT JOIN {pfx}cls c ON {on_grp} AND c.{sensitive} = s.{sensitive}), "
        f"{pfx}dist AS (SELECT *, cnt / SUM(cnt) OVER (PARTITION BY {q}) AS p FROM {pfx}grid), "
        f"{pfx}cum AS (SELECT d.*, g.p_global, SUM(d.p - g.p_global) OVER"
        f" (PARTITION BY {q} ORDER BY d.pos) AS cumd"
        f" FROM {pfx}dist d JOIN {pfx}gd g USING ({sensitive})), "
        f"{pfx}emd AS (SELECT {q}, ROUND(SUM(CASE WHEN pos < n_vals THEN ABS(cumd) ELSE 0 END), 9)"
        f" AS emd FROM {pfx}cum GROUP BY ALL)"
    )


# The pipeline bins o_totalprice in-place → column name o_totalprice_bin.
PIPE_T_QI = ["o_orderpriority", "o_totalprice_bin"]
PIPE_T_BINNED = (
    "obinned AS (SELECT t.*, CAST(CASE WHEN mm.mn = mm.mx THEN 0 ELSE "
    "LEAST(FLOOR((o_totalprice - mm.mn) * 10 / (mm.mx - mm.mn)), 9) END AS INT)"
    " AS o_totalprice_bin "
    "FROM orders t CROSS JOIN "
    "(SELECT MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx FROM orders) mm)"
)
PIPE_T_KAN = (
    "kan AS (SELECT * EXCLUDE (__cnt) FROM "
    "(SELECT *, COUNT(*) OVER (PARTITION BY o_orderpriority, o_totalprice_bin) AS __cnt"
    " FROM obinned) WHERE __cnt >= 5)"
)


@query(
    "pipe_tcloseness_metrics",
    f"""
    WITH {PIPE_T_BINNED}, {PIPE_T_KAN},
    {_emd_ctes_for('kan', PIPE_T_QI, 'o_orderstatus', 'k_')},
    anon AS (SELECT k.* FROM kan k JOIN
             (SELECT o_orderpriority, o_totalprice_bin FROM k_emd WHERE emd <= {T_THRESHOLD}) ok
             USING (o_orderpriority, o_totalprice_bin)),
    {_emd_ctes_for('anon', PIPE_T_QI, 'o_orderstatus', 'a_')},
    acls AS (SELECT o_orderpriority, o_totalprice_bin, COUNT(*) AS cs
             FROM anon GROUP BY 1, 2),
    base AS (SELECT (SELECT COUNT(*) FROM obinned) AS n_orig,
                    (SELECT COUNT(*) FROM anon) AS n_anon)
    SELECT b.n_orig, b.n_anon,
           ROUND((b.n_orig - b.n_anon) / b.n_orig, 9) AS suppression_rate,
           (SELECT ROUND(SUM(CASE WHEN cs = 1 THEN 1 ELSE 0 END) / COUNT(*), 9) FROM acls)
             AS uniqueness_rate,
           (SELECT ROUND(((
                (SELECT COUNT(DISTINCT o_orderpriority) FROM obinned)
                  - (SELECT COUNT(DISTINCT o_orderpriority) FROM anon))
                / (SELECT COUNT(DISTINCT o_orderpriority) FROM obinned)
              + ((SELECT COUNT(DISTINCT o_totalprice_bin) FROM obinned)
                  - (SELECT COUNT(DISTINCT o_totalprice_bin) FROM anon))
                / (SELECT COUNT(DISTINCT o_totalprice_bin) FROM obinned)) / 2, 9)) AS ncp,
           (SELECT CAST(SUM(CASE WHEN emd > {T_THRESHOLD} THEN 1 ELSE 0 END) AS BIGINT)
              FROM a_emd) AS violations,
           (SELECT COUNT(*) FROM a_emd) AS total_groups,
           (SELECT ROUND(SUM(CASE WHEN emd > {T_THRESHOLD} THEN 1 ELSE 0 END) / COUNT(*), 9)
              FROM a_emd) AS violation_rate
    FROM base b
    """,
)
def pipe_tcloseness_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark import pipelines

    o = load_table(spark, sf_dir, "orders")
    return pipelines.t_closeness_pipeline(
        o,
        ["o_orderpriority", "o_totalprice"],
        "o_orderstatus",
        k=5,
        t=T_THRESHOLD,
        bin_spec={"o_totalprice": 10},
        mode="strict",
    )["metrics"]


@query("pipe_clustering_metrics")
def pipe_clustering_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark import pipelines

    c = load_table(spark, sf_dir, "customer")
    return pipelines.clustering_pipeline(
        c, ["c_nationkey", "c_mktsegment", "c_acctbal"], n_clusters=10, k=5, seed=42
    )["metrics"]


@query(
    "c05_reid_risk",
    f"""
    WITH {BINNED_CUSTOMER_CTE},
    w AS (SELECT COUNT(*) OVER (PARTITION BY c_nationkey, c_mktsegment, acctbal_bin)
            AS class_size FROM binned)
    SELECT ROUND(AVG(1.0 / class_size), 9) AS reid_risk FROM w
    """,
)
def c05_reid_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.metrics import reid_risk

    return reid_risk(binned_customer(spark, sf_dir), CUST_QI)


@query(
    "c06_uniqueness_rows",
    f"""
    WITH {BINNED_CUSTOMER_CTE}, {CLASSES_SQL}
    SELECT ROUND(SUM(CASE WHEN class_size = 1 THEN 1 ELSE 0 END) / SUM(class_size), 9)
      AS uniqueness_rate
    FROM classes
    """,
)
def c06_uniqueness_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.metrics import uniqueness_rate

    return uniqueness_rate(binned_customer(spark, sf_dir), CUST_QI, denominator="rows")


@query(
    "c06_uniqueness_classes",
    f"""
    WITH {BINNED_CUSTOMER_CTE}, {CLASSES_SQL}
    SELECT ROUND(SUM(CASE WHEN class_size = 1 THEN 1 ELSE 0 END) / COUNT(*), 9)
      AS uniqueness_rate
    FROM classes
    """,
)
def c06_uniqueness_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.metrics import uniqueness_rate

    return uniqueness_rate(binned_customer(spark, sf_dir), CUST_QI, denominator="classes")


@query(
    "c07_suppression_rate",
    f"""
    WITH {BINNED_CUSTOMER_CTE},
    f AS (SELECT *, COUNT(*) OVER (PARTITION BY c_nationkey, c_mktsegment, acctbal_bin)
            AS __cnt FROM binned),
    anon AS (SELECT * FROM f WHERE __cnt >= 5)
    SELECT (SELECT COUNT(*) FROM binned) AS n_orig,
           (SELECT COUNT(*) FROM anon) AS n_anon,
           ROUND(((SELECT COUNT(*) FROM binned) - (SELECT COUNT(*) FROM anon))
                 / (SELECT COUNT(*) FROM binned), 9) AS suppression_rate
    """,
)
def c07_suppression_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.metrics import suppression_rate

    b = binned_customer(spark, sf_dir)
    anon = ka.k_anonymize_suppress(b, CUST_QI, 5)
    return suppression_rate(b, anon)


@query(
    "c08_ncp",
    f"""
    WITH {BINNED_CUSTOMER_CTE},
    f AS (SELECT *, COUNT(*) OVER (PARTITION BY c_nationkey, c_mktsegment, acctbal_bin)
            AS __cnt FROM binned),
    anon AS (SELECT * FROM f WHERE __cnt >= 5),
    o AS (SELECT COUNT(DISTINCT c_nationkey) AS o0, COUNT(DISTINCT c_mktsegment) AS o1,
                 COUNT(DISTINCT acctbal_bin) AS o2 FROM binned),
    a AS (SELECT COUNT(DISTINCT c_nationkey) AS a0, COUNT(DISTINCT c_mktsegment) AS a1,
                 COUNT(DISTINCT acctbal_bin) AS a2 FROM anon)
    SELECT ROUND((((o0 - a0) / o0) + ((o1 - a1) / o1) + ((o2 - a2) / o2)) / 3, 9) AS ncp
    FROM o CROSS JOIN a
    """,
)
def c08_ncp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.metrics import ncp

    b = binned_customer(spark, sf_dir)
    anon = ka.k_anonymize_suppress(b, CUST_QI, 5)
    return ncp(b, anon, CUST_QI)


# --------------------------------------------------------------------------
# X10 — deterministic sampling / splits (operators/sampling.py). Reference
# has no sampling (its one split is sklearn train_test_split,
# naive-suppresion.py:104); these are the curation-pipeline equivalents.
# Membership comes from a portable content hash (md5 hex prefix), so the
# DuckDB twin runs the *identical* predicate — not a statistical comparison.
# --------------------------------------------------------------------------
from dbms_data_anonymity_differential_privacy_spark.operators.sampling import (  # noqa: E402
    _threshold_hex,
    hash_sample,
    hash_split,
    stratified_sample_n,
)

_X10_T10 = _threshold_hex(0.1)
_X10_T80 = _threshold_hex(0.8)
_X10_T90 = _threshold_hex(0.8 + 0.1)


@query(
    "x10_hash_sample",
    f"""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE substr(md5(cast(o_orderkey AS varchar) || '|x10'), 1, 8) < '{_X10_T10}'
    """,
)
def x10_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return hash_sample(o, ["o_orderkey"], 0.1, salt="x10")


@query(
    "x10_hash_split",
    f"""
    WITH h AS (SELECT substr(md5(cast(c_custkey AS varchar) || '|x10'), 1, 8) AS hh
               FROM customer)
    SELECT CASE WHEN hh < '{_X10_T80}' THEN 'train'
                WHEN hh < '{_X10_T90}' THEN 'valid'
                ELSE 'test' END AS split,
           COUNT(*) AS n_rows
    FROM h GROUP BY 1
    """,
)
def x10_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    tagged = hash_split(
        c, ["c_custkey"], [("train", 0.8), ("valid", 0.1), ("test", 0.1)], salt="x10"
    )
    return tagged.groupBy("split").agg(F.count(F.lit(1)).alias("n_rows"))


@query(
    "x10_stratified_sample",
    """
    WITH r AS (SELECT o_orderkey, o_orderpriority,
                      row_number() OVER (
                        PARTITION BY o_orderpriority
                        ORDER BY substr(md5(cast(o_orderkey AS varchar) || '|x10'), 1, 8),
                                 o_orderkey) AS rn
               FROM orders)
    SELECT o_orderkey, o_orderpriority FROM r WHERE rn <= 20
    """,
)
def x10_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    return stratified_sample_n(o, ["o_orderpriority"], ["o_orderkey"], 20, salt="x10")


# --------------------------------------------------------------------------
# X12 — equal-frequency (quantile) binning (functions/binning.py): the
# generalization sibling of P17 for skewed numerics. Exact rank form is
# NTILE in both engines (tie-broken by key → total-order deterministic);
# the approx_percentile sketch form is the 100 TB path (rows-only pytest).
# --------------------------------------------------------------------------
@query(
    "x12_equal_freq_bin",
    """
    WITH t AS (SELECT c_acctbal,
                      ntile(10) OVER (ORDER BY c_acctbal, c_custkey) - 1 AS efbin
               FROM customer)
    SELECT efbin, COUNT(*) AS n_rows, MIN(c_acctbal) AS lo, MAX(c_acctbal) AS hi
    FROM t GROUP BY efbin
    """,
)
def x12_equal_freq_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.functions.binning import bin_equal_frequency

    c = load_table(spark, sf_dir, "customer")
    b = bin_equal_frequency(c, "c_acctbal", 10, "efbin", tiebreak_cols=["c_custkey"])
    return b.groupBy("efbin").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("c_acctbal").alias("lo"),
        F.max("c_acctbal").alias("hi"),
    )


# --------------------------------------------------------------------------
# X13 — PII detection + redaction (operators/pii.py): the free-text
# direct-identifier scrub an anonymizer needs (the reference can only drop
# identifier COLUMNS, naive-suppresion.py:23-27). The testdata carries no
# natural PII, so the query builds a deterministic synthetic profile string
# from customer fields with THE SAME SQL expression in both engines, then
# detects/redacts over it — what's under test is the operator (regex
# semantics + replace chain), not the synthesis.
# --------------------------------------------------------------------------

# Shared profile expression — valid verbatim in Spark SQL and DuckDB
# (||, lpad, %, CAST AS STRING are identical). PII presence varies by key
# (ssn on 1/3 of rows, phone on 1/2, card on 1/7) so zero counts are
# exercised too.
_PROFILE_SQL = (
    "c_name || ' <user' || CAST(c_custkey AS STRING) || '@example.com>'"
    " || CASE WHEN c_custkey % 3 = 0 THEN ' ssn '"
    "   || lpad(CAST((c_custkey * 7) % 1000 AS STRING), 3, '0') || '-'"
    "   || lpad(CAST((c_custkey * 3) % 100 AS STRING), 2, '0') || '-'"
    "   || lpad(CAST((c_custkey * 11) % 10000 AS STRING), 4, '0') ELSE '' END"
    " || CASE WHEN c_custkey % 2 = 0 THEN ' ph 555-'"
    "   || lpad(CAST(c_custkey % 1000 AS STRING), 3, '0') || '-'"
    "   || lpad(CAST((c_custkey * 13) % 10000 AS STRING), 4, '0') ELSE '' END"
    " || CASE WHEN c_custkey % 7 = 0 THEN ' card '"
    "   || lpad(CAST((c_custkey * 17) % 10000 AS STRING), 4, '0') || '-1111-2222-'"
    "   || lpad(CAST((c_custkey * 19) % 10000 AS STRING), 4, '0') ELSE '' END"
    " || ' ip 10.' || CAST(c_nationkey AS STRING) || '.0.'"
    " || CAST(c_custkey % 256 AS STRING) || ' ' || c_mktsegment"
)


def _pii_oracle_sqls() -> tuple[str, str]:
    """Build both x13 oracles from PII_PATTERNS so SQL can't drift from
    the operator's pattern dict."""
    from dbms_data_anonymity_differential_privacy_spark.operators.pii import PII_PATTERNS, redact_pii_sql

    count = {
        label: f"COALESCE(len(regexp_extract_all(profile, '{pat}')), 0)"
        for label, pat in PII_PATTERNS.items()
    }
    count_cols = ", ".join(f"{e} AS pii_{label}" for label, e in count.items())
    total = " + ".join(f"pii_{label}" for label in PII_PATTERNS)
    detect = f"""
    WITH prof AS (SELECT c_custkey, {_PROFILE_SQL} AS profile FROM customer),
    c AS (SELECT c_custkey, profile, {count_cols} FROM prof)
    SELECT c_custkey, {", ".join("pii_" + l for l in PII_PATTERNS)},
           {total} AS pii_total,
           {redact_pii_sql("profile")} AS redacted
    FROM c
    """
    report_cols = ", ".join(
        f"CAST(SUM(CASE WHEN {e} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS rows_with_{label}, "
        f"CAST(SUM({e}) AS BIGINT) AS mentions_{label}"
        for label, e in count.items()
    )
    report = f"""
    WITH prof AS (SELECT {_PROFILE_SQL} AS profile FROM customer)
    SELECT {report_cols} FROM prof
    """
    return detect, report


_PII_DETECT_SQL, _PII_REPORT_SQL = _pii_oracle_sqls()


def _customer_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select("c_custkey", F.expr(_PROFILE_SQL).alias("profile"))


@query("x13_pii_detect", _PII_DETECT_SQL)
def x13_pii_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.pii import redact_pii, with_pii_counts

    prof = _customer_profiles(spark, sf_dir)
    out = with_pii_counts(prof, "profile")
    return out.withColumn("redacted", redact_pii(F.col("profile"))).drop("profile")


@query("x13_pii_report", _PII_REPORT_SQL)
def x13_pii_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.pii import pii_report

    return pii_report(_customer_profiles(spark, sf_dir), "profile")


# --------------------------------------------------------------------------
# X14 — repetition metrics (operators/text.py repetition_metrics): the
# Gopher-style quality gates. dup_token_frac is map-side; top-bigram is
# the word-count shape (explode + partial-agg). Oracle = DuckDB list
# lambdas + UNNEST over the same tokenization.
# --------------------------------------------------------------------------
@query(
    "x14_repetition",
    r"""
    WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                  FROM documents),
    base AS (SELECT doc_id, len(t) AS n_tokens,
                    ROUND(1.0 - len(list_distinct(t)) / len(t), 9) AS dup_token_frac,
                    list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1]) AS bg
             FROM toks WHERE len(t) >= 2),
    bgc AS (SELECT doc_id, n_tokens, dup_token_frac, bgram, COUNT(*) AS c
            FROM base, UNNEST(bg) AS u(bgram)
            GROUP BY doc_id, n_tokens, dup_token_frac, bgram)
    SELECT doc_id, n_tokens, dup_token_frac,
           ROUND(MAX(c) * 1.0 / (n_tokens - 1), 9) AS top_bigram_frac
    FROM bgc GROUP BY doc_id, n_tokens, dup_token_frac
    """,
)
def x14_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.text import repetition_metrics

    return repetition_metrics(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# X11 — sessionization (streaming/sessions.py). Event-gap session windows
# per user; Spark's native session_window aggregation vs the classic
# gaps-and-islands SQL in DuckDB. Boundary semantics verified empirically:
# Spark MERGES an event exactly `gap` after the previous one (new session
# only when diff > gap, end = last event + gap), so the twin uses a strict
# `>` island flag.
# --------------------------------------------------------------------------
@query(
    "x11_sessionize",
    """
    WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
    f AS (SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                        OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             > INTERVAL '30 minutes'
                      THEN 1 ELSE 0 END AS new_s
          FROM e),
    s AS (SELECT user_id, ts,
                 SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM f)
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def x11_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.streaming.sessions import sessionize_batch

    ev = load_table(spark, sf_dir, "events")
    return sessionize_batch(ev, gap="30 minutes")


# --------------------------------------------------------------------------
# X15 — Mondrian multidimensional k-anonymity (operators/mondrian.py,
# LeFevre et al. ICDE 2006): generalization instead of suppression — keeps
# 100% of rows where C1 drops small classes. Oracle-backed since r9 (the
# r8 verdict task-8 ask): the QI rides the exact-int64 CENTS domain
# (acctbal cents + nationkey), making the whole median-split trajectory
# reproducible op-for-op in DuckDB (the x15_mondrian_exact argument); the
# release maps bounds back to dollars with ONE identical IEEE division
# per engine. Full-release invariants (rows inside ranges, zero
# suppression) stay pinned in tests/test_mondrian.py.
# --------------------------------------------------------------------------
_X15_FINAL = """
    , leaves AS (SELECT pid, CAST(COUNT(*) AS BIGINT) AS cnt,
                        MIN(d1) / 100.0 AS c_acctbal_lo,
                        MAX(d1) / 100.0 AS c_acctbal_hi,
                        MIN(d0) AS c_nationkey_lo, MAX(d0) AS c_nationkey_hi
                 FROM r{rounds} GROUP BY pid)
    SELECT c_acctbal_lo, c_acctbal_hi, c_nationkey_lo, c_nationkey_hi,
           CAST(SUM(cnt) AS BIGINT) AS n_rows
    FROM leaves GROUP BY 1, 2, 3, 4
"""


def _mondrian_oracle_sql(k: int, rounds: int, final: str | None = None) -> str:
    """Unrolled DuckDB twin of the breadth-first Mondrian loop
    (operators/mondrian.py _assign_slim, median='exact') over customer with
    dims (c_nationkey, acctbal-in-cents).

    Recursive CTEs cannot aggregate over the working relation per
    iteration, so the rounds are UNROLLED as chained CTEs instead — exact
    because a round where no leaf is splittable is an identity map (every
    pid keeps its value), so any unroll depth >= the convergence depth
    yields the fixpoint the Spark loop runs to. rounds=8 covers
    depth <= log2(n/k) up to sf0.1 (15k rows, k=150 → depth ~7).

    Bit-exactness argument: dims are integer-valued doubles, so the type-7
    interpolated median (DuckDB quantile_cont ≡ Spark percentile at p=0.5:
    one subtract, one *0.5, one add — all exact on integers < 2^52), the
    exact side counts, the normalized-range scores (one subtract + one
    divide of identical doubles), and the lowest-index tie-break are all
    reproducible IEEE-754 op-for-op across engines.
    """
    sql = [
        """
    WITH r0 AS MATERIALIZED (SELECT CAST(c_nationkey AS DOUBLE) AS d0,
                       CAST(ROUND(c_acctbal * 100) AS DOUBLE) AS d1,
                       CAST(0 AS BIGINT) AS pid
                FROM customer),
    g AS (SELECT GREATEST(MAX(d0) - MIN(d0), 1e-12) AS g0,
                 GREATEST(MAX(d1) - MIN(d1), 1e-12) AS g1 FROM r0)"""
    ]
    for i in range(rounds):
        sql.append(
            f""",
    s{i} AS MATERIALIZED (SELECT pid, COUNT(*) AS cnt,
                    MIN(d0) AS mn0, quantile_cont(d0, 0.5) AS md0, MAX(d0) AS mx0,
                    MIN(d1) AS mn1, quantile_cont(d1, 0.5) AS md1, MAX(d1) AS mx1
             FROM r{i} GROUP BY pid),
    l{i} AS MATERIALIZED (SELECT r.pid,
                    SUM(CASE WHEN r.d0 <= s.md0 THEN 1 ELSE 0 END) AS lf0,
                    SUM(CASE WHEN r.d1 <= s.md1 THEN 1 ELSE 0 END) AS lf1
             FROM r{i} r JOIN s{i} s USING (pid) GROUP BY r.pid),
    x{i} AS MATERIALIZED (SELECT s.pid, s.md0, s.md1,
                    CASE WHEN l.lf0 >= {k} AND s.cnt - l.lf0 >= {k}
                         THEN (s.mx0 - s.mn0) / g.g0 ELSE -1.0 END AS sc0,
                    CASE WHEN l.lf1 >= {k} AND s.cnt - l.lf1 >= {k}
                         THEN (s.mx1 - s.mn1) / g.g1 ELSE -1.0 END AS sc1
             FROM s{i} s JOIN l{i} l USING (pid) CROSS JOIN g),
    r{i + 1} AS MATERIALIZED (SELECT r.d0, r.d1,
                      CASE WHEN GREATEST(x.sc0, x.sc1) < 0 THEN r.pid
                           WHEN (CASE WHEN x.sc0 >= x.sc1 THEN r.d0 ELSE r.d1 END)
                                <= (CASE WHEN x.sc0 >= x.sc1 THEN x.md0 ELSE x.md1 END)
                           THEN r.pid * 2 + 1 ELSE r.pid * 2 + 2 END AS pid
               FROM r{i} r JOIN x{i} x USING (pid))"""
        )
    sql.append(
        final.format(rounds=rounds)
        if final is not None
        else f"""
    SELECT pid, CAST(COUNT(*) AS BIGINT) AS cnt,
           MIN(d0) AS c_nationkey_lo, MAX(d0) AS c_nationkey_hi,
           MIN(d1) AS acct_cents_lo, MAX(d1) AS acct_cents_hi
    FROM r{rounds} GROUP BY pid"""
    )
    return "".join(sql)


@query("x15_mondrian_exact", _mondrian_oracle_sql(k=150, rounds=8))
def x15_mondrian_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Mondrian leaf-bounds relation (exact medians, k=150)
    — gives the recursive operator a full hash check against an unrolled
    DuckDB twin, complementing x15_mondrian's rows-only invariants."""
    from dbms_data_anonymity_differential_privacy_spark.operators.mondrian import (
        mondrian_leaf_bounds,
    )

    c = load_table(spark, sf_dir, "customer")
    prepped = c.select(
        F.col("c_nationkey"),
        F.round(F.col("c_acctbal") * 100, 0).alias("acct_cents"),
    )
    return mondrian_leaf_bounds(prepped, ["c_nationkey", "acct_cents"], k=150, median="exact")


@query("x15_mondrian", _mondrian_oracle_sql(k=25, rounds=12, final=_X15_FINAL))
def x15_mondrian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mondrian generalization summary: per distinct leaf-bounds box, how
    many rows it generalizes (k=25, exact medians, cents QI domain; dim
    order nationkey-then-cents matches the oracle's index tie-break).
    rounds=12 in the twin covers convergence depth up to sf0.1 — any
    extra unrolled round is an identity map."""
    from dbms_data_anonymity_differential_privacy_spark.operators.mondrian import mondrian_anonymize

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey"),
        F.round(F.col("c_acctbal") * 100, 0).alias("acct_cents"),
    )
    anon = mondrian_anonymize(c, ["c_nationkey", "acct_cents"], 25, median="exact")
    return anon.groupBy(
        (F.col("acct_cents_lo") / 100.0).alias("c_acctbal_lo"),
        (F.col("acct_cents_hi") / 100.0).alias("c_acctbal_hi"),
        "c_nationkey_lo",
        "c_nationkey_hi",
    ).agg(F.count(F.lit(1)).alias("n_rows"))


# --------------------------------------------------------------------------
# X18 — benchmark-contamination scan (operators/dedup.py): distinct word
# trigrams of each corpus doc probed against the benchmark set's shingles
# (docs with doc_id % 50 == 0 stand in for an eval suite). Engine probes
# 8-byte shingle hashes against a broadcast set; oracle joins the string
# shingles — equal counts up to 64-bit collisions, as for x03.
# --------------------------------------------------------------------------
@query(
    "x18_contamination",
    """
    WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
               FROM documents),
    sh AS (SELECT doc_id, list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 2, 0)),
           i -> array_to_string(toks[i:i+2], ' '))) AS s FROM t),
    bsh AS (SELECT DISTINCT unnest(s) AS shingle FROM sh WHERE doc_id % 50 = 0),
    ce AS (SELECT doc_id, unnest(s) AS shingle FROM sh WHERE doc_id % 50 <> 0),
    hit AS (SELECT ce.doc_id, COUNT(*) AS n_hits
            FROM ce JOIN bsh USING (shingle) GROUP BY 1)
    SELECT s2.doc_id, CAST(len(s2.s) AS BIGINT) AS n_ngrams,
           CAST(COALESCE(hit.n_hits, 0) AS BIGINT) AS n_hits,
           ROUND(CASE WHEN len(s2.s) > 0
                      THEN COALESCE(hit.n_hits, 0) / len(s2.s)
                      ELSE 0.0 END, 9) AS contaminated_frac
    FROM sh s2 LEFT JOIN hit USING (doc_id) WHERE s2.doc_id % 50 <> 0
    """,
)
def x18_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import contamination_check

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    corpus = docs.where(F.col("doc_id") % 50 != 0)
    return contamination_check(corpus, bench, n=3)


# --------------------------------------------------------------------------
# X19 — corpus vocabulary (operators/text.py): top-50 tokens by term
# frequency with document frequencies. Word-count shuffle shape; top-k via
# TakeOrderedAndProject, ties broken by token text on both sides.
# --------------------------------------------------------------------------
@query(
    "x19_vocab",
    """
    WITH e AS (SELECT doc_id,
                      unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
               FROM documents)
    SELECT token, COUNT(*) AS term_freq, COUNT(DISTINCT doc_id) AS doc_freq
    FROM e WHERE token <> ''
    GROUP BY token ORDER BY term_freq DESC, token LIMIT 50
    """,
)
def x19_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.text import vocab_stats

    docs = load_table(spark, sf_dir, "documents")
    return vocab_stats(docs, top_k=50)


@query(
    "x22_group_percentiles",
    """
    SELECT event_type,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.95) AS p95,
           quantile_cont(value, 0.99) AS p99
    FROM events GROUP BY 1
    """,
)
def x22_group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X22 — exact per-group percentiles (operators/metrics.py
    group_percentiles): type-7 interpolation bit-matches DuckDB
    quantile_cont with no rounding; the sketch path (percentile_approx)
    is the 100 TB flavor."""
    from dbms_data_anonymity_differential_privacy_spark.operators.metrics import group_percentiles

    ev = load_table(spark, sf_dir, "events")
    return group_percentiles(ev, ["event_type"], "value")


@query(
    "x28_incremental_admit",
    """
    WITH fp AS (SELECT doc_id, text,
                       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
                FROM documents),
    batch AS (SELECT * FROM fp WHERE doc_id % 10 < 2
              QUALIFY ROW_NUMBER() OVER (PARTITION BY f ORDER BY doc_id) = 1),
    corpus AS (SELECT * FROM fp WHERE doc_id % 10 >= 2),
    fresh AS (SELECT b.* FROM batch b
              WHERE b.f NOT IN (SELECT DISTINCT f FROM corpus)),
    tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
            FROM fresh),
    fsh AS (SELECT doc_id, list_distinct(list_transform(
              generate_series(1, greatest(len(toks) - 2, 0)),
              i -> array_to_string(toks[i:i+2], ' '))) AS s FROM tok),
    ctok AS (SELECT string_split_regex(lower(trim(text)), '\\s+') AS toks FROM corpus),
    csh AS (SELECT DISTINCT unnest(list_transform(
              generate_series(1, greatest(len(toks) - 2, 0)),
              i -> array_to_string(toks[i:i+2], ' '))) AS shingle FROM ctok),
    fe AS (SELECT doc_id, unnest(s) AS shingle FROM fsh),
    hit AS (SELECT fe.doc_id, COUNT(*) AS n_hits
            FROM fe JOIN csh USING (shingle) GROUP BY 1)
    SELECT f2.doc_id, fresh.f AS fingerprint,
           CAST(len(f2.s) AS BIGINT) AS n_ngrams,
           CAST(COALESCE(hit.n_hits, 0) AS BIGINT) AS n_hits,
           ROUND(CASE WHEN len(f2.s) > 0
                      THEN COALESCE(hit.n_hits, 0) / len(f2.s) ELSE 0.0 END, 9)
             AS overlap_frac,
           (ROUND(CASE WHEN len(f2.s) > 0
                       THEN COALESCE(hit.n_hits, 0) / len(f2.s) ELSE 0.0 END, 9)
            <= 0.5) AS admitted
    FROM fsh f2
    JOIN fresh USING (doc_id)
    LEFT JOIN hit USING (doc_id)
    """,
)
def x28_incremental_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X28 — incremental corpus admission (operators/dedup.py
    incremental_admit): vet a new crawl batch (doc_id % 10 < 2) against
    the existing corpus (the rest) without reprocessing the corpus —
    within-batch fingerprint dedup, exact anti-join on the corpus
    fingerprint index, then a shingle-overlap near-dup gate over a
    SHUFFLED 8-byte-hash join (corpus side too big to broadcast). Oracle
    joins string shingles; equal up to 64-bit collisions as x03/x18."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import incremental_admit

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % 10 < 2)
    corpus = docs.where(F.col("doc_id") % 10 >= 2)
    return incremental_admit(batch, corpus, n=3, max_overlap=0.5)


@query(
    "x31_fuzzy_pairs",
    """
    WITH s AS (SELECT c_custkey AS id, c_name AS v FROM customer)
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(levenshtein(a.v, b.v) AS INT) AS dist
    FROM s a JOIN s b ON a.id < b.id
    WHERE levenshtein(a.v, b.v) <= 1
    """,
)
def x31_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X31 — fuzzy matching via FastSS deletion neighborhoods
    (operators/linkage.py fuzzy_pairs_fastss): ALL customer-name pairs
    within levenshtein 1, exact (full recall — the r2 prefix-blocked
    variant missed pairs disagreeing inside the block key AND went
    quadratic per block on this corpus's shared-prefix names: 22 s at
    sf0.1 vs ~1 s for the hash-join shape). The DuckDB twin verifies
    against the brute-force all-pairs definition, which is feasible at
    oracle scale (sf0.01) and makes the blocked-recall caveat vanish.
    Both engines share the identical unit-cost built-in levenshtein."""
    from dbms_data_anonymity_differential_privacy_spark.operators.linkage import (
        fuzzy_pairs_fastss,
    )

    c = load_table(spark, sf_dir, "customer")
    return fuzzy_pairs_fastss(c, "c_name", "c_custkey")


@query(
    "x32_linkage_audit",
    f"""
    WITH {BINNED_CUSTOMER_CTE},
    f AS (SELECT *, COUNT(*) OVER (PARTITION BY c_nationkey, c_mktsegment, acctbal_bin)
                 AS __cnt
          FROM binned),
    rel AS (SELECT c_nationkey, c_mktsegment, acctbal_bin FROM f WHERE __cnt >= 5),
    cand AS (SELECT c_nationkey, c_mktsegment, acctbal_bin, COUNT(*) AS __cand
             FROM binned GROUP BY 1, 2, 3)
    SELECT COUNT(*) AS n_released,
           CAST(SUM(CASE WHEN __cand = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_reidentified,
           MIN(__cand) AS min_candidates,
           ROUND(AVG(1.0 / __cand), 9) AS avg_risk
    FROM rel JOIN cand USING (c_nationkey, c_mktsegment, acctbal_bin)
    """,
)
def x32_linkage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X32 — Sweeney-style linkage-attack audit (operators/linkage.py):
    link the k=5-anonymized customer release back to the FULL original
    table as the worst-case auxiliary and report candidate counts. By
    construction min_candidates >= 5 and n_reidentified = 0 — the
    k-anonymity guarantee restated as an attack, checked end to end
    through the whole anonymization path."""
    from dbms_data_anonymity_differential_privacy_spark.operators.linkage import (
        linkage_attack_audit,
    )

    b = binned_customer(spark, sf_dir)
    released = ka.k_anonymize_suppress(b, CUST_QI, 5)
    return linkage_attack_audit(released, b, CUST_QI)


# --------------------------------------------------------------------------
# X33 — hierarchical rollup release with small-cell suppression
# (operators/rollup.py). region -> nation -> segment counts and exact
# cent-sums at every level in ONE Expand + partial-agg pass; cells with
# < k contributors suppressed. GROUPING() arithmetic is identical on both
# engines, money is integer cents, so the whole multi-level relation
# hash-checks.
# --------------------------------------------------------------------------
@query(
    "x33_rollup_release",
    """
    WITH f AS (SELECT r_name, n_name, c_mktsegment,
                      CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
               FROM customer
               JOIN nation ON c_nationkey = n_nationkey
               JOIN region ON n_regionkey = r_regionkey)
    SELECT r_name, n_name, c_mktsegment,
           CAST(GROUPING(r_name) * 4 + GROUPING(n_name) * 2
                + GROUPING(c_mktsegment) AS INT) AS level,
           COUNT(*) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM f
    GROUP BY ROLLUP(r_name, n_name, c_mktsegment)
    HAVING COUNT(*) >= 5
    """,
)
def x33_rollup_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.rollup import rollup_release

    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    dim = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name", "r_name"
    )
    f = (
        c.join(F.broadcast(dim), c.c_nationkey == dim.n_nationkey)
        .withColumn("cents", F.round(F.col("c_acctbal") * 100).cast("bigint"))
        .select("r_name", "n_name", "c_mktsegment", "cents")
    )
    return rollup_release(f, ["r_name", "n_name", "c_mktsegment"], k=5, cents_col="cents")


# --------------------------------------------------------------------------
# X34 — user-level DP with bounded contribution (operators/dp.py,
# dp_sum_user_level / bound_contribution; Wilson et al., PoPETS 2020).
# One customer owns many orders; protect USERS, not rows: keep <= L rows
# per user (deterministic rank) and scale noise by L * clip. The exact
# twin hashes the deterministic pre-noise core (same pattern as the
# x01_*_exact family); the noisy release is rows-only by design.
# --------------------------------------------------------------------------
@query(
    "x34_user_contrib",
    """
    WITH b AS (SELECT o_orderpriority, o_totalprice,
                      ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
               FROM orders)
    SELECT o_orderpriority,
           ROUND(SUM(LEAST(GREATEST(o_totalprice, 0.0), 100000.0)), 2) AS sum_exact_r
    FROM b WHERE rn <= 3 GROUP BY 1
    """,
)
def x34_user_contrib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-noise core of dp_sum_user_level: per-user contribution bounding
    (L=3, ranked by o_orderkey) + per-row clipping + group sum."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_sum_user_level

    o = load_table(spark, sf_dir, "orders")
    out = dp_sum_user_level(
        o, ["o_orderpriority"], "o_custkey", "o_totalprice", ["o_orderkey"],
        epsilon=1.0, lower=0.0, upper=100000.0, max_rows=3,
        release="x34_user_contrib",
    )
    # round to 2 dp: totalprice is cent-precise, so both engines recover
    # the identical decimal no matter the summation order (6 dp was inside
    # the accumulated-ulp band at sf0.1 — measured 2e-06 drift)
    return out.select("o_orderpriority", F.round("sum_exact", 2).alias("sum_exact_r"))


@query("x34_dp_user_sum")
def x34_dp_user_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X34 noisy release (rows-only: includes the Laplace draw, scale =
    L * clip / eps = user-level sensitivity)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_sum_user_level

    o = load_table(spark, sf_dir, "orders")
    return dp_sum_user_level(
        o, ["o_orderpriority"], "o_custkey", "o_totalprice", ["o_orderkey"],
        epsilon=1.0, lower=0.0, upper=100000.0, max_rows=3,
        release="x34_dp_user_sum",
    )


# --------------------------------------------------------------------------
# X35 — k-map audit (operators/metrics.py k_map_audit): re-identification
# risk of a released SAMPLE measured against the POPULATION, per El Emam &
# Dankar. The sample is the engine's portable content-hash sample (same
# md5 SQL twin as x10), so the whole audit is hash-checkable.
# --------------------------------------------------------------------------
@query(
    "x35_kmap_audit",
    None,  # SQL attached below — needs the md5 threshold constant
)
def x35_kmap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.metrics import k_map_audit
    from dbms_data_anonymity_differential_privacy_spark.operators.sampling import hash_sample

    c = load_table(spark, sf_dir, "customer")
    smp = hash_sample(c, ["c_custkey"], 0.05, salt="x35")
    return k_map_audit(smp, c, ["c_nationkey", "c_mktsegment"], k=10)


ORACLE_SQL["x35_kmap_audit"] = f"""
    WITH smp AS (SELECT c_nationkey, c_mktsegment FROM customer
                 WHERE substr(md5(cast(c_custkey AS varchar) || '|x35'), 1, 8)
                       < '{_threshold_hex(0.05)}'),
    s AS (SELECT c_nationkey, c_mktsegment, COUNT(*) AS sample_count
          FROM smp GROUP BY 1, 2),
    p AS (SELECT c_nationkey, c_mktsegment, COUNT(*) AS population_count
          FROM customer GROUP BY 1, 2)
    SELECT c_nationkey, c_mktsegment, sample_count,
           COALESCE(population_count, 0) AS population_count,
           COALESCE(population_count, 0) < 10 AS at_risk
    FROM s LEFT JOIN p USING (c_nationkey, c_mktsegment)
    """


# --------------------------------------------------------------------------
# X36 — DP synthetic data generation (operators/synth.py): measure noisy
# marginals over PUBLIC domains in one pass, generate deterministic
# synthetic rows map-only (select–measure–generate; MWEM/PrivBayes line).
# Rows-only by nature (noise + sampling); invariants in test_synth.py.
# --------------------------------------------------------------------------
@query("x36_dp_synthesize")
def x36_dp_synthesize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.synth import dp_synthesize

    b = binned_customer(spark, sf_dir).select("c_mktsegment", "acctbal_bin")
    domains = {
        # both domains are public: TPC-H's five segments, and the binning
        # config (5 equal-width bins) chosen by the caller
        "c_mktsegment": ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
        "acctbal_bin": [str(i) for i in range(5)],
    }
    return dp_synthesize(
        spark, b, domains, epsilon=1.0, n_out=1000, release="x36_dp_synthesize"
    )


@query("x36_dp_synthesize_chain")
def x36_dp_synthesize_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X36 — Bayes-chain synthesis (PrivBayes-style fixed chain): the
    segment->bin dependency is measured as one noisy 2-way marginal and
    preserved in the generated rows (rows-only; correlation-preservation
    vs the independent model pinned in test_synth.py)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.synth import dp_synthesize_chain

    b = binned_customer(spark, sf_dir).select("c_mktsegment", "acctbal_bin")
    domains = {
        "c_mktsegment": ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
        "acctbal_bin": [str(i) for i in range(5)],
    }
    return dp_synthesize_chain(
        spark, b, ["c_mktsegment", "acctbal_bin"], domains,
        epsilon=1.0, n_out=1000, release="x36_dp_synthesize_chain",
    )


# --------------------------------------------------------------------------
# X37 — keyed pseudonymization (operators/pseudonym.py): deterministic
# one-way tokens, same two built-ins on both engines -> bit-exact oracle.
# --------------------------------------------------------------------------
@query(
    "x37_pseudonymize",
    """
    SELECT c_custkey,
           CASE WHEN c_name IS NULL THEN NULL ELSE
                substr(sha256('x37-secret' || '|' || CAST(c_name AS VARCHAR)), 1, 16)
           END AS c_name,
           c_nationkey
    FROM customer
    """,
)
def x37_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.pseudonym import pseudonymize

    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    return pseudonymize(c, ["c_name"], secret="x37-secret")


# --------------------------------------------------------------------------
# X38 — value generalization hierarchy (operators/generalize.py): full-
# domain generalization per Samarati/Sweeney; broadcast map join, never a
# fact shuffle. The fixed-level application is oracle-exact; the minimal-
# level search is a ~height-step lattice walk (rows-only).
# --------------------------------------------------------------------------
_X38_VGH = {
    "AUTOMOBILE": ["INDUSTRIAL", "*"],
    "MACHINERY": ["INDUSTRIAL", "*"],
    "BUILDING": ["HOME", "*"],
    "FURNITURE": ["HOME", "*"],
    "HOUSEHOLD": ["HOME", "*"],
}


@query(
    "x38_vgh",
    """
    SELECT CASE
             WHEN c_mktsegment IN ('AUTOMOBILE', 'MACHINERY') THEN 'INDUSTRIAL'
             WHEN c_mktsegment IN ('BUILDING', 'FURNITURE', 'HOUSEHOLD') THEN 'HOME'
             ELSE '*'
           END AS c_mktsegment,
           COUNT(*) AS n_rows
    FROM customer GROUP BY 1
    """,
)
def x38_vgh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.generalize import apply_vgh

    c = load_table(spark, sf_dir, "customer")
    g = apply_vgh(c, "c_mktsegment", _X38_VGH, level=1)
    return g.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n_rows"))


@query(
    "x38_vgh_min_level",
    """
    WITH gen AS (
      SELECT c_nationkey,
             c_mktsegment AS s0,
             CASE WHEN c_mktsegment IN ('AUTOMOBILE', 'MACHINERY') THEN 'INDUSTRIAL'
                  WHEN c_mktsegment IN ('BUILDING', 'FURNITURE', 'HOUSEHOLD') THEN 'HOME'
                  ELSE '*' END AS s1,
             '*' AS s2
      FROM customer),
    lv AS (
      SELECT 0 AS level, c_nationkey, s0 AS seg FROM gen
      UNION ALL SELECT 1, c_nationkey, s1 FROM gen
      UNION ALL SELECT 2, c_nationkey, s2 FROM gen),
    sizes AS (SELECT level, c_nationkey, seg, COUNT(*) AS n
              FROM lv GROUP BY 1, 2, 3),
    per_level AS (SELECT level, MIN(n) AS min_n, COUNT(*) AS n_classes
                  FROM sizes GROUP BY 1),
    chosen AS (SELECT MIN(level) AS level FROM per_level WHERE min_n >= 25)
    SELECT c.level AS level, p.min_n AS min_class_size, p.n_classes AS n_classes
    FROM chosen c JOIN per_level p ON p.level = c.level
    """,
)
def x38_vgh_min_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X38 — Samarati minimal-level search. The PROBE loop is driver-side
    (one scalar per level), but the RELEASED relation — (chosen level,
    min class size, class count) — is deterministic, so the twin replays
    the whole lattice walk in SQL: union all levels of the single-
    attribute chain, aggregate class sizes per level, pick the minimal
    level with min >= k (r9 verdict task 8; the x15_mondrian precedent
    for oracle-ing a driver-probed release)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.generalize import (
        min_level_for_k,
    )

    c = load_table(spark, sf_dir, "customer")
    qi = ["c_nationkey", "c_mktsegment"]
    try:
        level, g = min_level_for_k(c, qi, "c_mktsegment", _X38_VGH, k=25)
    except ValueError:
        # no level achieves k (tiny SFs): the RELEASE is the empty
        # relation, matching the twin's empty `chosen` join
        return spark.createDataFrame(
            [], "level int, min_class_size long, n_classes long"
        )
    sizes = g.groupBy(*qi).agg(F.count(F.lit(1)).alias("n"))
    return sizes.agg(
        F.lit(level).alias("level"),
        F.min("n").alias("min_class_size"),
        F.count(F.lit(1)).alias("n_classes"),
    )


# --------------------------------------------------------------------------
# X39 — l-diversity variants beyond distinct-l (Machanavajjhala et al.,
# ICDE 2006): recursive (c,l) with an all-integer verdict (filtered
# release oracle-hashable) and the per-class entropy relation (rounded,
# the EMD-relation precedent — a perfectly uniform class sits exactly on
# the ln(l) verdict boundary, so the verdict itself is not float-stable).
# --------------------------------------------------------------------------
@query(
    "x39_recursive_cl",
    f"""
    WITH {BINNED_CUSTOMER_CTE},
    cnts AS (SELECT c_nationkey, c_mktsegment, acctbal_bin, COUNT(*) AS c
             FROM binned GROUP BY 1, 2, 3),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY c_nationkey, c_mktsegment
                                       ORDER BY c DESC, acctbal_bin) AS rn
          FROM cnts),
    v AS (SELECT c_nationkey, c_mktsegment,
                 MAX(CASE WHEN rn = 1 THEN c END) AS r1,
                 COALESCE(SUM(CASE WHEN rn >= 2 THEN c END), 0) AS tail,
                 SUM(c) AS sz
          FROM r GROUP BY 1, 2),
    keep AS (SELECT c_nationkey, c_mktsegment FROM v
             WHERE r1 < 2.0 * tail AND sz >= 5)
    SELECT b.c_custkey, b.c_name, b.c_nationkey, b.c_acctbal, b.c_mktsegment,
           b.acctbal_bin
    FROM binned b SEMI JOIN keep k
         ON b.c_nationkey = k.c_nationkey AND b.c_mktsegment = k.c_mktsegment
    """,
)
def x39_recursive_cl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.tcloseness import (
        recursive_cl_diversity_filter,
    )

    b = binned_customer(spark, sf_dir)
    return recursive_cl_diversity_filter(
        b, ["c_nationkey", "c_mktsegment"], "acctbal_bin", c=2.0, l=2, k=5
    )


@query(
    "x39_entropy_stats",
    f"""
    WITH {BINNED_CUSTOMER_CTE},
    cnts AS (SELECT c_nationkey, c_mktsegment, acctbal_bin, COUNT(*) AS c
             FROM binned GROUP BY 1, 2, 3),
    szd AS (SELECT *, SUM(c) OVER (PARTITION BY c_nationkey, c_mktsegment) AS sz
            FROM cnts)
    SELECT c_nationkey, c_mktsegment,
           COUNT(*) AS n_distinct,
           CAST(MAX(sz) AS BIGINT) AS class_size,
           ROUND(SUM(-(c * 1.0 / sz) * LN(c * 1.0 / sz)), 9) AS entropy_r
    FROM szd GROUP BY 1, 2
    """,
)
def x39_entropy_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.tcloseness import (
        l_diversity_entropy_stats,
    )

    b = binned_customer(spark, sf_dir)
    return l_diversity_entropy_stats(b, ["c_nationkey", "c_mktsegment"], "acctbal_bin")


# --------------------------------------------------------------------------
# X40 — cross-document repeated spans (operators/dedup.py), the
# token-window approximation of Lee et al. 2022 exact-substring dedup.
# The DuckDB twin keys spans by their STRING content where Spark keys by
# xxhash64 of the token-hash window — equivalent up to 64-bit collisions,
# the same equivalence the x03 Jaccard oracle already relies on.
# --------------------------------------------------------------------------
@query(
    "x40_span_stats",
    r"""
    WITH toks AS (SELECT doc_id,
                         regexp_split_to_array(lower(trim(text)), '\s+') AS t
                  FROM documents),
    spans0 AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_tokens,
                      unnest(generate_series(1, CAST(len(t) AS INT) - 7)) AS i
               FROM toks),
    spans AS (SELECT doc_id, n_tokens, CAST(i - 1 AS INT) AS pos,
                     array_to_string(t[i:i+7], ' ') AS g
              FROM spans0),
    dup AS (SELECT g FROM spans GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
    m AS (SELECT spans.* FROM spans SEMI JOIN dup USING (g)),
    c AS (SELECT doc_id, n_tokens, pos,
                 MAX(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) AS cum_end
          FROM m)
    SELECT doc_id, COUNT(*) AS n_dup_spans,
           CAST(SUM(GREATEST(0, pos + 8 - GREATEST(pos, COALESCE(cum_end, 0)))) AS BIGINT)
               AS dup_tokens,
           MAX(n_tokens) AS n_tokens
    FROM c GROUP BY doc_id
    """,
)
def x40_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import repeated_span_stats

    docs = load_table(spark, sf_dir, "documents")
    return repeated_span_stats(docs, window=8)


@query("x40_span_dedup")
def x40_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X40 — the removal half (rows-only: Arrow rebuild of the token
    stream; normalized-token semantics disclosed in the docstring).
    Invariants (token conservation, detector agreement) in pytest."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import (
        remove_repeated_spans,
    )

    docs = load_table(spark, sf_dir, "documents")
    return remove_repeated_spans(docs, window=8).select(
        "doc_id", "n_tokens_before", "n_tokens_after"
    )


# --------------------------------------------------------------------------
# X43 — one-pass column profiling (operators/profile.py): per-column
# n/nulls/distinct/min/max in ONE scan; the DuckDB twin is generated from
# the SAME column list so coverage can't drift. Doubles as the r4 read-path
# representative (the profile is a pure scan+aggregate over lineitem).
# --------------------------------------------------------------------------
_X43_COLS = ["l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"]
_X43_NUMERIC = ["l_orderkey", "l_quantity"]


def _x43_oracle() -> str:
    from dbms_data_anonymity_differential_privacy_spark.operators.profile import profile_oracle_sql

    return profile_oracle_sql("lineitem", _X43_COLS, _X43_NUMERIC)


@query("x43_profile")
def x43_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.profile import profile_columns

    li = load_table(spark, sf_dir, "lineitem")
    return profile_columns(li, _X43_COLS)


ORACLE_SQL["x43_profile"] = _x43_oracle()


@query("x43_profile_approx")
def x43_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Rows-only: HyperLogLog++ estimates are engine-specific by design;
    # the ±rsd band vs the exact profile is pinned in test_profile.py.
    from dbms_data_anonymity_differential_privacy_spark.operators.profile import profile_columns

    li = load_table(spark, sf_dir, "lineitem")
    return profile_columns(li, _X43_COLS, exact=False)


# --------------------------------------------------------------------------
# X44/X45 — embedding quantization + exact label centroids
# (operators/embeddings.py). Quantization is pure elementwise IEEE-double
# arithmetic (floor-of-shifted, never round()) so the int8 codes hash-match
# DuckDB bit-for-bit; centroids aggregate the QUANTIZED codes as
# (sum BIGINT, count) — integer arithmetic, associative, so the distributed
# partial-agg order can never change the released relation.
# --------------------------------------------------------------------------
_X45_QUANT_CTE = """
quant AS (
  SELECT vec_id, label, q_scale,
    list_transform(embedding, x ->
      CAST(floor(CAST(x AS DOUBLE) / q_scale * 127 + 0.5) AS BIGINT)) AS qlist
  FROM (
    SELECT vec_id, label, embedding,
           list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) AS q_scale
    FROM embeddings
  ) s
)
"""


@query(
    "x45_quantize",
    f"""
    WITH {_X45_QUANT_CTE}
    SELECT vec_id, r.i - 1 AS pos, qlist[r.i] AS q, q_scale
    FROM quant, range(1, 1 + 64) r(i)
    """,
)
def x45_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.embeddings import quantize_embeddings

    emb = load_table(spark, sf_dir, "embeddings")
    q = quantize_embeddings(emb)
    return q.select(
        "vec_id", F.posexplode("qvec").alias("pos", "q"), "q_scale"
    ).select("vec_id", "pos", "q", "q_scale")


@query(
    "x44_centroid_sums",
    f"""
    WITH {_X45_QUANT_CTE}
    SELECT label, r.i - 1 AS pos, COUNT(*) AS n,
           CAST(SUM(qlist[r.i]) AS BIGINT) AS sum_q
    FROM quant, range(1, 1 + 64) r(i)
    GROUP BY label, pos
    """,
)
def x44_centroid_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.embeddings import (
        centroid_sums,
        quantize_embeddings,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return centroid_sums(quantize_embeddings(emb), label_col="label", code_col="qvec")


@query("x44_label_centroids")
def x44_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Rows-only: float centroids carry a tolerance contract (summation
    # order varies with partitioning); numpy-parity pinned in
    # test_embeddings.py. The bit-exact path is x44_centroid_sums.
    from dbms_data_anonymity_differential_privacy_spark.operators.embeddings import label_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    return label_centroids(emb)


# --------------------------------------------------------------------------
# X46 — user-level DP distinct-user counts (operators/dp.py
# dp_count_distinct_users): distinct (user, group) pairs, per-user group
# cap ranked by a PORTABLE md5(user|group) hash, Laplace(G/eps). The exact
# pre-noise core is the oracle row; the noisy release is rows-only like
# every other X1 mechanism.
# --------------------------------------------------------------------------
@query(
    "x46_dp_distinct_exact",
    """
    WITH pairs AS (SELECT DISTINCT user_id, event_type FROM events
                   WHERE event_type IS NOT NULL),
    ranked AS (
      SELECT event_type,
             ROW_NUMBER() OVER (
               PARTITION BY user_id
               ORDER BY md5(cast(user_id AS varchar) || '|' || event_type)
             ) AS rn
      FROM pairs)
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users_exact
    FROM ranked WHERE rn <= 2 GROUP BY event_type
    """,
)
def x46_dp_distinct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_count_distinct_users

    ev = load_table(spark, sf_dir, "events")
    out = dp_count_distinct_users(
        ev, ["event_type"], "user_id", epsilon=1.0, max_groups=2, release="x46_exact"
    )
    return out.select("event_type", "n_users_exact")


@query("x46_dp_distinct")
def x46_dp_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_count_distinct_users

    ev = load_table(spark, sf_dir, "events")
    return dp_count_distinct_users(
        ev, ["event_type"], "user_id", epsilon=1.0, max_groups=2, release="x46"
    )


# --------------------------------------------------------------------------
# X47 — deterministic training-shard assignment (operators/sampling.py
# assign_shards). The query is the shard PLAN relation (per-shard count +
# sort-key range); layout independence and append stability are pinned by
# test_export_shards.py.
# --------------------------------------------------------------------------
@query(
    "x47_shard_plan",
    """
    WITH h AS (
      SELECT substr(md5(cast(doc_id AS varchar) || '|x47'), 1, 8) AS sort_key
      FROM documents)
    SELECT (CAST('0x' || sort_key AS BIGINT) * 8) >> 32 AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(sort_key) AS first_key, MAX(sort_key) AS last_key
    FROM h GROUP BY shard
    """,
)
def x47_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.sampling import assign_shards

    docs = load_table(spark, sf_dir, "documents")
    sharded = assign_shards(docs, ["doc_id"], 8, salt="x47")
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("sort_key").alias("first_key"),
        F.max("sort_key").alias("last_key"),
    )


# --------------------------------------------------------------------------
# X48 — corpus snapshot diff (operators/snapshot.py): added/removed/changed
# accounting between two dataset versions over (id, fingerprint) relations
# — ONE slim full-outer shuffle join, document bodies never move. The two
# "snapshots" are derived deterministically from the documents table with
# the engine's own portable-hash predicates (5% only-in-new, 5%
# only-in-old, 10% edited), so the oracle twin reconstructs them exactly.
# --------------------------------------------------------------------------
_X48_T5 = "0ccccccd"
_X48_T10 = "1999999a"


def _x48_snapshots(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents")
    h = lambda salt: F.substring(  # noqa: E731 — portable md5 draw, as sampling._hash_hex
        F.md5(F.concat_ws("|", F.col("doc_id").cast("string"), F.lit(salt)).cast("binary")), 1, 8
    )
    old = docs.filter(~(h("x48a") < F.lit(_X48_T5)))
    edited = F.when(h("x48c") < F.lit(_X48_T10), F.concat(F.col("text"), F.lit(" v2"))).otherwise(
        F.col("text")
    )
    new = docs.filter(~(h("x48b") < F.lit(_X48_T5))).withColumn("text", edited)
    return old, new


@query(
    "x48_snapshot_diff",
    f"""
    WITH old AS (
      SELECT doc_id, text FROM documents
      WHERE NOT substr(md5(cast(doc_id AS varchar) || '|x48a'), 1, 8) < '0ccccccd'
    ),
    new AS (
      SELECT doc_id,
             CASE WHEN substr(md5(cast(doc_id AS varchar) || '|x48c'), 1, 8) < '1999999a'
                  THEN text || ' v2' ELSE text END AS text
      FROM documents
      WHERE NOT substr(md5(cast(doc_id AS varchar) || '|x48b'), 1, 8) < '0ccccccd'
    ),
    o AS (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp FROM old),
    n AS (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp FROM new)
    SELECT CASE WHEN o.fp IS NULL THEN 'added'
                WHEN n.fp IS NULL THEN 'removed'
                WHEN o.fp = n.fp THEN 'unchanged'
                ELSE 'changed' END AS status,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM o FULL OUTER JOIN n USING (doc_id)
    GROUP BY 1
    """,
)
def x48_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.snapshot import snapshot_diff_summary

    old, new = _x48_snapshots(spark, sf_dir)
    return snapshot_diff_summary(old, new)


# --------------------------------------------------------------------------
# X49 — Misra-Gries heavy hitters (operators/sketch.py): bounded-memory
# frequent values, per-partition Arrow summaries + SQL merge with an error
# certificate. With k >= true cardinality the sketch is EXACT (err_bound
# 0) — that regime is the oracle row; the sketch regime is bound-tested
# against exact counts in test_sketch.py.
# --------------------------------------------------------------------------
@query(
    "x49_heavy_hitters_exact",
    """
    SELECT event_type AS value, CAST(COUNT(*) AS BIGINT) AS est_count,
           CAST(0 AS BIGINT) AS err_bound
    FROM events GROUP BY event_type
    """,
)
def x49_heavy_hitters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.sketch import heavy_hitters

    ev = load_table(spark, sf_dir, "events")
    return heavy_hitters(ev, "event_type", k=32)


@query("x49_heavy_hitters")
def x49_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Rows-only: the sketch regime (k << cardinality) — counts are lower
    # bounds with a certificate, engine-specific by construction. The
    # synthetic tables are deliberately uniform (no column has heavy
    # hitters — on uniform data MG correctly returns nothing), so the
    # query derives a deterministically skewed key: ~30% of events
    # collapse onto one hot key over the uniform user tail.
    from dbms_data_anonymity_differential_privacy_spark.operators.sketch import heavy_hitters

    ev = load_table(spark, sf_dir, "events")
    skewed = ev.withColumn(
        "skewed_key",
        F.when(F.pmod(F.xxhash64("event_id"), F.lit(10)) < 3, F.lit(-1)).otherwise(
            F.col("user_id")
        ),
    )
    return heavy_hitters(skewed, "skewed_key", k=8)


# --------------------------------------------------------------------------
# X50 — deterministic weighted sampling (operators/sampling.py
# weighted_sample_n): Efraimidis–Spirakis exponential race, top-n by
# -ln(u)/w off the portable md5 draw. TakeOrderedAndProject partial heaps,
# never a global sort. Sample documents ∝ length.
# --------------------------------------------------------------------------
@query(
    "x50_weighted_sample",
    """
    SELECT doc_id, n_chars, es_key FROM (
      SELECT doc_id, n_chars,
             ROUND(-LN((CAST('0x' || substr(md5(cast(doc_id AS varchar) || '|x50'), 1, 8)
                             AS BIGINT) + 1) / 4294967296.0)
                   / CAST(n_chars AS DOUBLE), 9) AS es_key
      FROM documents WHERE n_chars > 0)
    ORDER BY es_key, doc_id LIMIT 100
    """,
)
def x50_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.sampling import weighted_sample_n

    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample_n(docs, ["doc_id"], "n_chars", 100, salt="x50").select(
        "doc_id", "n_chars", "es_key"
    )


# --------------------------------------------------------------------------
# X51 — basic beta-likeness audit (operators/tcloseness.py
# beta_likeness_audit, Cao & Karras PVLDB 2012): per-sensitive-value
# relative-gain bound, the per-value sibling of the EMD family. One fact
# aggregation; gain telescopes to ONE IEEE division of exact int64
# products.
# --------------------------------------------------------------------------
@query(
    "x51_beta_likeness",
    f"""
    WITH {BINNED_CUSTOMER_CTE},
    c AS (SELECT c_nationkey, acctbal_bin, c_mktsegment, COUNT(*) AS cc
          FROM binned GROUP BY 1, 2, 3),
    g AS (SELECT c_mktsegment, CAST(SUM(cc) AS BIGINT) AS gg FROM c GROUP BY 1),
    n AS (SELECT CAST(SUM(gg) AS BIGINT) AS nn FROM g),
    s AS (SELECT c_nationkey, acctbal_bin, CAST(SUM(cc) AS BIGINT) AS sz
          FROM c GROUP BY 1, 2),
    v AS (SELECT c.c_nationkey, c.acctbal_bin, s.sz,
                 CAST(c.cc * n.nn AS DOUBLE) / CAST(s.sz * g.gg AS DOUBLE) - 1.0 AS gain
          FROM c
          JOIN g USING (c_mktsegment)
          JOIN s ON c.c_nationkey = s.c_nationkey AND c.acctbal_bin = s.acctbal_bin
          CROSS JOIN n),
    o AS (SELECT c_nationkey, acctbal_bin, CAST(MAX(sz) AS BIGINT) AS class_size,
                 ROUND(MAX(gain), 9) AS max_gain_r
          FROM v GROUP BY 1, 2)
    SELECT *, max_gain_r > 0.6 AS violates FROM o
    """,
)
def x51_beta_likeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.tcloseness import (
        beta_likeness_audit,
    )

    b = binned_customer(spark, sf_dir)
    return beta_likeness_audit(b, ["c_nationkey", "acctbal_bin"], "c_mktsegment", beta=0.6)


# --------------------------------------------------------------------------
# X53 — robust per-group outlier screen (operators/metrics.py
# mad_outlier_stats): Hampel MAD rule with exact type-7 medians (the x22
# bit-match precedent); the sketch flavor is the 100 TB path.
# --------------------------------------------------------------------------
@query(
    "x53_mad_outliers",
    """
    WITH g1 AS (SELECT event_type, quantile_cont(value, 0.5) AS med
                FROM events GROUP BY 1),
    j AS (SELECT e.event_type, g1.med, ABS(e.value - g1.med) AS dev
          FROM events e JOIN g1 USING (event_type)),
    g2 AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, MAX(med) AS med,
                  quantile_cont(dev, 0.5) AS mad
           FROM j GROUP BY 1),
    o AS (SELECT j.event_type,
                 CAST(SUM(CASE WHEN j.dev > g2.mad * 4.4478 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_outliers
          FROM j JOIN g2 USING (event_type) GROUP BY 1)
    SELECT g2.event_type, g2.n, o.n_outliers, g2.med, g2.mad
    FROM g2 JOIN o USING (event_type)
    """,
)
def x53_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.metrics import mad_outlier_stats

    ev = load_table(spark, sf_dir, "events")
    return mad_outlier_stats(ev, ["event_type"], "value")


# --------------------------------------------------------------------------
# X56 — DP continual observation (operators/dp.py dp_continual_counts,
# Chan/Shi/Song TCC'11 binary mechanism): running counts at every time
# step under ONE epsilon charge. The exact twin reconstructs every prefix
# THROUGH the dyadic tree (node sums + bit-arithmetic cover), so the
# oracle's plain running SUM hash-certifies the whole decomposition.
# --------------------------------------------------------------------------
_X56_START = 1704067200  # 2024-01-01 00:00:00 UTC — public grid origin
_X56_BUCKETS = 720  # 30 days x 24 h


@query(
    "x56_continual_exact",
    """
    WITH b AS (SELECT CAST(FLOOR(date_diff('second', TIMESTAMP '2024-01-01 00:00:00', ts)
                               / 3600) AS BIGINT) AS t FROM events),
    c AS (SELECT t, COUNT(*) AS n FROM b WHERE t >= 0 AND t < 720 GROUP BY 1),
    g AS (SELECT gs.g AS t, COALESCE(c.n, 0) AS n
          FROM generate_series(0, 719) gs(g) LEFT JOIN c ON c.t = gs.g)
    SELECT t AS bucket, CAST(SUM(n) OVER (ORDER BY t) AS BIGINT) AS prefix_exact
    FROM g
    """,
)
def x56_continual_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import continual_counts_exact

    ev = load_table(spark, sf_dir, "events")
    return continual_counts_exact(ev, "ts", _X56_START, _X56_BUCKETS, "1 hour")


@query("x56_dp_continual")
def x56_dp_continual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: the noisy release (replay-stable Lap(L/eps) per tree
    node); the noise-free decomposition is hash-checked by
    x56_continual_exact."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_continual_counts

    ev = load_table(spark, sf_dir, "events")
    return dp_continual_counts(
        ev, "ts", _X56_START, _X56_BUCKETS, "1 hour", epsilon=1.0, seed=42, release="x56"
    )


# --------------------------------------------------------------------------
# X57 — relational integrity checks (operators/integrity.py): FK
# containment + candidate-key uniqueness as composable relations.
# --------------------------------------------------------------------------
@query(
    "x57_fk_orphans",
    """
    WITH k AS (SELECT l_partkey FROM lineitem),
    nn AS (SELECT l_partkey FROM k WHERE l_partkey IS NOT NULL),
    p AS (SELECT DISTINCT p_partkey AS l_partkey FROM part),
    o AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_orphans FROM nn
          ANTI JOIN p USING (l_partkey)),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_child,
                 CAST(SUM(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_null_fk
          FROM k)
    SELECT t.n_child, t.n_null_fk, o.n_orphans,
           ROUND(CAST(o.n_orphans AS DOUBLE) / CAST(t.n_child AS DOUBLE), 9)
               AS orphan_rate_r
    FROM t CROSS JOIN o
    """,
)
def x57_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.integrity import referential_check

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return referential_check(li, part, ["l_partkey"], ["p_partkey"])


@query(
    "x57_key_unique",
    """
    WITH k AS (SELECT c_nationkey, c_mktsegment, COUNT(*) AS c
               FROM customer GROUP BY 1, 2)
    SELECT CAST(SUM(c) AS BIGINT) AS n_rows, CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_keys,
           CAST(SUM(c - 1) AS BIGINT) AS n_excess_rows
    FROM k
    """,
)
def x57_key_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.integrity import (
        key_uniqueness_check,
    )

    cust = load_table(spark, sf_dir, "customer")
    return key_uniqueness_check(cust, ["c_nationkey", "c_mktsegment"])


# --------------------------------------------------------------------------
# X58 — CDC MERGE (operators/snapshot.py apply_changes): apply an
# upsert/delete batch to a snapshot WITHOUT shuffling the snapshot —
# broadcast anti join + union. The change batch derives deterministically
# from documents via the engine's portable-hash predicates (5% deletes,
# 10% revisions, 2% inserts), so the oracle replays it exactly; a doc
# drawn as both delete and revision exercises the pinned tie rule
# (delete wins).
# --------------------------------------------------------------------------
@query(
    "x58_apply_changes",
    """
    WITH d AS (SELECT doc_id, text, lang, source, 'delete' AS op FROM documents
               WHERE substr(md5(cast(doc_id AS varchar) || '|x58d'), 1, 8) < '0ccccccd'),
    u AS (SELECT doc_id, text || ' rev2' AS text, lang, source, 'upsert' AS op
          FROM documents
          WHERE substr(md5(cast(doc_id AS varchar) || '|x58u'), 1, 8) < '1999999a'),
    i AS (SELECT doc_id + 1000000000 AS doc_id,
                 'new doc ' || CAST(doc_id AS VARCHAR) AS text, lang, source,
                 'upsert' AS op
          FROM documents
          WHERE substr(md5(cast(doc_id AS varchar) || '|x58i'), 1, 8) < '051eb852'),
    ch AS (SELECT * FROM (SELECT * FROM d UNION ALL SELECT * FROM u
                          UNION ALL SELECT * FROM i)
           QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY op) = 1),
    surv AS (SELECT b.doc_id, b.text, b.lang, b.source FROM documents b
             ANTI JOIN ch USING (doc_id)),
    up AS (SELECT doc_id, text, lang, source FROM ch WHERE op = 'upsert')
    SELECT doc_id, lang, source, CAST(length(text) AS BIGINT) AS n_chars_out
    FROM (SELECT * FROM surv UNION ALL SELECT * FROM up)
    """,
)
def x58_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.sampling import hash_sample
    from dbms_data_anonymity_differential_privacy_spark.operators.snapshot import apply_changes

    docs = load_table(spark, sf_dir, "documents")
    dels = hash_sample(docs, ["doc_id"], 0.05, "x58d").withColumn("op", F.lit("delete"))
    ups = (
        hash_sample(docs, ["doc_id"], 0.10, "x58u")
        .withColumn("text", F.concat(F.col("text"), F.lit(" rev2")))
        .withColumn("op", F.lit("upsert"))
    )
    ins = (
        hash_sample(docs, ["doc_id"], 0.02, "x58i")
        .withColumn("text", F.concat(F.lit("new doc "), F.col("doc_id").cast("string")))
        .withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000_000))
        .withColumn("op", F.lit("upsert"))
    )
    changes = dels.unionByName(ups).unionByName(ins)
    merged = apply_changes(docs, changes, "doc_id")
    return merged.select(
        "doc_id", "lang", "source", F.length("text").cast("long").alias("n_chars_out")
    )


# --------------------------------------------------------------------------
# X59 — shuffle-skew diagnostic (operators/profile.py skew_report): the
# pre-flight check behind every salting/AQE decision in SCALE.md. The
# probe key is the same deterministic 30%-hot-key construction x49 uses,
# but derived with the portable md5 so the oracle replays it.
# --------------------------------------------------------------------------
@query(
    "x59_skew_report",
    """
    WITH s AS (SELECT CASE WHEN substr(md5(cast(event_id AS varchar) || '|x59'), 1, 8)
                                < '4ccccccd'
                           THEN -1 ELSE user_id END AS k FROM events),
    pk AS (SELECT k, COUNT(*) AS c FROM s GROUP BY 1),
    t5 AS (SELECT CAST(SUM(c) AS BIGINT) AS top5_count
           FROM (SELECT c FROM pk ORDER BY c DESC, k ASC LIMIT 5)),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_rows, CAST(COUNT(*) AS BIGINT) AS n_keys,
                   CAST(MAX(c) AS BIGINT) AS max_count FROM pk)
    SELECT tot.n_rows, tot.n_keys, tot.max_count, t5.top5_count,
           ROUND(CAST(tot.max_count AS DOUBLE) / CAST(tot.n_rows AS DOUBLE), 9)
               AS max_share_r,
           ROUND(CAST(t5.top5_count AS DOUBLE) / CAST(tot.n_rows AS DOUBLE), 9)
               AS top5_share_r
    FROM tot CROSS JOIN t5
    """,
)
def x59_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.profile import skew_report

    ev = load_table(spark, sf_dir, "events")
    skewed = ev.withColumn(
        "k",
        F.when(
            F.substring(
                F.md5(
                    F.concat_ws("|", F.col("event_id").cast("string"), F.lit("x59")).cast(
                        "binary"
                    )
                ),
                1,
                8,
            )
            < F.lit("4ccccccd"),
            F.lit(-1).cast("long"),
        ).otherwise(F.col("user_id")),
    )
    return skew_report(skewed, ["k"], top=5)


# --------------------------------------------------------------------------
# X60 — bottom-k synopsis (operators/sketch.py): a mergeable summary whose
# every output — sample, quantile estimates + DKW certificate, KMV
# distinct estimate — is a deterministic function of (data, salt), so the
# SKETCH REGIME itself hash-checks against a SQL replay (unlike GK/HLL,
# which are engine-internal and rows-only). TakeOrderedAndProject
# per-partition heaps; the fact table never shuffles.
# --------------------------------------------------------------------------
@query(
    "x60_quantile_sketch",
    """
    WITH s AS (SELECT value FROM (
            SELECT value, event_id,
                   (CAST('0x' || substr(md5(cast(event_id AS varchar) || '|x60q'), 1, 8)
                         AS BIGINT) + 1) / 4294967296.0 AS u
            FROM events)
          ORDER BY u, event_id LIMIT 4096),
    e AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_used,
                 quantile_cont(value, 0.5) AS p50_est,
                 quantile_cont(value, 0.95) AS p95_est,
                 quantile_cont(value, 0.99) AS p99_est
          FROM s),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM events)
    SELECT n.n_rows, e.k_used, 0.021220336 AS eps_dkw_r,
           e.p50_est, e.p95_est, e.p99_est
    FROM n CROSS JOIN e
    """,
)
def x60_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.sketch import quantile_sketch

    ev = load_table(spark, sf_dir, "events")
    return quantile_sketch(ev, "value", ["event_id"], k=4096, salt="x60q")


@query(
    "x60_kmv_distinct",
    """
    WITH d AS (SELECT DISTINCT user_id FROM events),
    s AS (SELECT user_id,
                 (CAST('0x' || substr(md5(cast(user_id AS varchar) || '|x60k'), 1, 8)
                       AS BIGINT) + 1) / 4294967296.0 AS u
          FROM d ORDER BY u, user_id LIMIT 64),
    a AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_used, MAX(u) AS ku FROM s)
    SELECT k_used, ROUND(ku, 9) AS kth_u_r,
           ROUND(CASE WHEN k_used < 64 THEN CAST(k_used AS DOUBLE)
                      ELSE CAST(k_used - 1 AS DOUBLE) / ku END, 9) AS n_distinct_est_r
    FROM a
    """,
)
def x60_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.sketch import kmv_distinct

    ev = load_table(spark, sf_dir, "events")
    return kmv_distinct(ev, "user_id", k=64, salt="x60k")


# --------------------------------------------------------------------------
# X63 — grouped closed-form OLS (operators/stats.py group_ols): trend
# estimation as ONE aggregation of five sufficient statistics — no
# iterative solver. Fits value ~ hour-of-day per event type.
# --------------------------------------------------------------------------
@query(
    "x63_group_ols",
    """
    WITH a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                      SUM(CAST(EXTRACT(hour FROM ts) AS DOUBLE)) AS sx,
                      SUM(value) AS sy,
                      SUM(CAST(EXTRACT(hour FROM ts) AS DOUBLE) * value) AS sxy,
                      SUM(CAST(EXTRACT(hour FROM ts) AS DOUBLE)
                          * CAST(EXTRACT(hour FROM ts) AS DOUBLE)) AS sxx,
                      SUM(value * value) AS syy
               FROM events GROUP BY 1),
    f AS (SELECT event_type, n, CAST(n AS DOUBLE) AS nd, sx, sy, sxy, sxx, syy
          FROM a)
    SELECT event_type, n,
           ROUND(CASE WHEN nd * sxx - sx * sx <> 0
                      THEN (nd * sxy - sx * sy) / (nd * sxx - sx * sx) END, 9)
               AS slope_r,
           ROUND(CASE WHEN nd * sxx - sx * sx <> 0
                      THEN (sy - (nd * sxy - sx * sy) / (nd * sxx - sx * sx) * sx) / nd
                 END, 9) AS intercept_r,
           ROUND(CASE WHEN nd * sxx - sx * sx <> 0 AND nd * syy - sy * sy <> 0
                      THEN ((nd * sxy - sx * sy) * (nd * sxy - sx * sy))
                           / ((nd * sxx - sx * sx) * (nd * syy - sy * sy)) END, 9)
               AS r2_r
    FROM f
    """,
)
def x63_group_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import group_ols

    ev = load_table(spark, sf_dir, "events")
    return group_ols(ev, ["event_type"], F.hour("ts"), "value")


# --------------------------------------------------------------------------
# X64 — categorical mutual information (operators/stats.py
# mutual_information): association screen over the (a, b, count)
# relation — the t-closeness counts-relation algebra with an information
# functional on top.
# --------------------------------------------------------------------------
@query(
    "x64_mutual_information",
    """
    WITH j AS (SELECT lang AS a, source AS b, COUNT(*) AS c
               FROM documents
               WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
    m AS (SELECT *, SUM(c) OVER (PARTITION BY a) AS ca,
                 SUM(c) OVER (PARTITION BY b) AS cb,
                 SUM(c) OVER () AS nn,
                 ROW_NUMBER() OVER (PARTITION BY a ORDER BY b) AS ra,
                 ROW_NUMBER() OVER (PARTITION BY b ORDER BY a) AS rb
          FROM j)
    SELECT CAST(MAX(nn) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS n_cells,
           ROUND(-SUM(CASE WHEN ra = 1 THEN (CAST(ca AS DOUBLE) / nn)
                                            * LN(CAST(ca AS DOUBLE) / nn)
                           ELSE 0 END), 9) AS h_a_r,
           ROUND(-SUM(CASE WHEN rb = 1 THEN (CAST(cb AS DOUBLE) / nn)
                                            * LN(CAST(cb AS DOUBLE) / nn)
                           ELSE 0 END), 9) AS h_b_r,
           ROUND(SUM((CAST(c AS DOUBLE) / nn)
                     * LN(CAST(c * nn AS DOUBLE) / CAST(ca * cb AS DOUBLE))), 9)
               AS mi_r
    FROM m
    """,
)
def x64_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import mutual_information

    docs = load_table(spark, sf_dir, "documents")
    return mutual_information(docs, "lang", "source")


# --------------------------------------------------------------------------
# X66 — grouped top-k "trending" (operators/stats.py top_k_per_group):
# the rank<=k filter compiles to a map-side WindowGroupLimit Partial, so
# the window shuffle carries ~groups*k rows regardless of key skew.
# --------------------------------------------------------------------------
@query(
    "x66_trending",
    """
    WITH c AS (SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS cnt
               FROM events GROUP BY 1, 2)
    SELECT h, event_type, CAST(cnt AS BIGINT) AS cnt, CAST(rank AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY h
                                       ORDER BY cnt DESC, event_type) AS rank
          FROM c)
    WHERE rank <= 3
    """,
)
def x66_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import top_k_per_group

    ev = load_table(spark, sf_dir, "events").withColumn("h", F.date_trunc("hour", "ts"))
    return top_k_per_group(ev, ["h"], ["event_type"], k=3)


# --------------------------------------------------------------------------
# X67 — PSI distribution drift (operators/stats.py psi_drift): the
# ML-monitoring stability score between two dataset versions, binned over
# PUBLIC bounds. The two "versions" are the month's first and second
# halves — a deterministic temporal split both engines replay.
# --------------------------------------------------------------------------
@query(
    "x67_psi_drift",
    """
    WITH o AS (SELECT value FROM events WHERE ts < TIMESTAMP '2024-01-16'),
    nw AS (SELECT value FROM events WHERE ts >= TIMESTAMP '2024-01-16'),
    bo AS (SELECT CAST(LEAST(FLOOR(LEAST(GREATEST(value, 0.0), 500.0) * 10 / 500.0),
                             9) AS INT) AS bin, COUNT(*) AS c_old FROM o GROUP BY 1),
    bn AS (SELECT CAST(LEAST(FLOOR(LEAST(GREATEST(value, 0.0), 500.0) * 10 / 500.0),
                             9) AS INT) AS bin, COUNT(*) AS c_new FROM nw GROUP BY 1),
    sp AS (SELECT gs.g AS bin FROM generate_series(0, 9) gs(g)),
    j AS (SELECT sp.bin, COALESCE(bo.c_old, 0) AS c_old, COALESCE(bn.c_new, 0) AS c_new
          FROM sp LEFT JOIN bo ON bo.bin = sp.bin LEFT JOIN bn ON bn.bin = sp.bin),
    t AS (SELECT *, SUM(c_old) OVER () AS n_old, SUM(c_new) OVER () AS n_new FROM j),
    terms AS (SELECT CAST(n_old AS BIGINT) AS n_old, CAST(n_new AS BIGINT) AS n_new,
                     ROUND((GREATEST(CAST(c_new AS DOUBLE) / n_new, 0.000001)
                            - GREATEST(CAST(c_old AS DOUBLE) / n_old, 0.000001))
                           * LN(GREATEST(CAST(c_new AS DOUBLE) / n_new, 0.000001)
                                / GREATEST(CAST(c_old AS DOUBLE) / n_old, 0.000001)),
                           9) AS psi_term
              FROM t)
    SELECT MAX(n_old) AS n_old, MAX(n_new) AS n_new,
           ROUND(SUM(psi_term), 9) AS psi_r
    FROM terms
    """,
)
def x67_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import psi_drift

    ev = load_table(spark, sf_dir, "events")
    old = ev.filter(F.col("ts") < F.lit("2024-01-16").cast("timestamp")).select("value")
    new = ev.filter(F.col("ts") >= F.lit("2024-01-16").cast("timestamp")).select("value")
    return psi_drift(old, new, "value", n_bins=10, lower=0.0, upper=500.0)


# --------------------------------------------------------------------------
# X68 — DP covariance (operators/dp.py dp_covariance): three clipped sums
# + the count under an even eps/4 split; the exact core is the oracle row
# (the X1 *_exact convention), the noisy release is rows-only.
# --------------------------------------------------------------------------
@query(
    "x68_dp_covariance_exact",
    """
    WITH c AS (SELECT event_type,
                      LEAST(GREATEST(value, 0.0), 500.0) AS cx,
                      CAST(EXTRACT(hour FROM ts) AS DOUBLE) AS cy
               FROM events),
    a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_exact,
                 SUM(cx) AS sx, SUM(cy) AS sy, SUM(cx * cy) AS sxy
          FROM c GROUP BY 1)
    SELECT event_type, n_exact,
           ROUND(sxy / n_exact - (sx / n_exact) * (sy / n_exact), 9) AS cov_exact_r
    FROM a
    """,
)
def x68_dp_covariance_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_covariance

    ev = load_table(spark, sf_dir, "events").withColumn(
        "hour_d", F.hour("ts").cast("double")
    )
    full = dp_covariance(
        ev, ["event_type"], "value", "hour_d", epsilon=1.0,
        x_bounds=(0.0, 500.0), y_bounds=(0.0, 23.0), release="x68",
    )
    return full.select("event_type", "n_exact", "cov_exact_r")


@query("x68_dp_covariance")
def x68_dp_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: the noisy release (deterministic hash noise; the
    pre-noise core is hash-checked by x68_dp_covariance_exact)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_covariance

    ev = load_table(spark, sf_dir, "events").withColumn(
        "hour_d", F.hour("ts").cast("double")
    )
    return dp_covariance(
        ev, ["event_type"], "value", "hour_d", epsilon=1.0,
        x_bounds=(0.0, 500.0), y_bounds=(0.0, 23.0), release="x68",
    )


# --------------------------------------------------------------------------
# X69 — one-pass correlation matrix (operators/stats.py
# correlation_matrix): every Pearson pair from ONE aggregation — p
# columns cost one scan, not p*(p-1)/2 jobs. The SQL twin is generated
# from the same column list (the profile.py convention).
# --------------------------------------------------------------------------
_X69_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _corr_matrix_sql(table: str, cols: list[str]) -> str:
    sums = ", ".join(
        f"SUM({c}) AS s_{c}, SUM({c} * {c}) AS q_{c}" for c in cols
    )
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    prods = ", ".join(f"SUM({a} * {b}) AS p_{a}_{b}" for a, b in pairs)
    nn = " AND ".join(f"{c} IS NOT NULL" for c in cols)
    rows = " UNION ALL ".join(
        f"""SELECT '{a}' AS col_a, '{b}' AS col_b, n,
            ROUND(CASE WHEN n * q_{a} - s_{a} * s_{a} > 0
                        AND n * q_{b} - s_{b} * s_{b} > 0
                       THEN (n * p_{a}_{b} - s_{a} * s_{b})
                            / SQRT((n * q_{a} - s_{a} * s_{a})
                                   * (n * q_{b} - s_{b} * s_{b})) END, 9) AS corr_r
            FROM a"""
        for a, b in pairs
    )
    return f"""
    WITH a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, {sums}, {prods}
               FROM {table} WHERE {nn})
    {rows}
    """


@query("x69_corr_matrix", _corr_matrix_sql("lineitem", _X69_COLS))
def x69_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import correlation_matrix

    li = load_table(spark, sf_dir, "lineitem")
    return correlation_matrix(li, _X69_COLS)


# --------------------------------------------------------------------------
# X70 — k^m-anonymity for SET-VALUED data (operators/kanonymity.py
# km_anonymity_audit, Terrovitis et al. VLDB'08): the transaction-data
# attack model — fewer than k users sharing an m-item combination is a
# re-identification risk. Users' event-type sets, m=2, k=40.
# --------------------------------------------------------------------------
@query(
    "x70_km_anonymity",
    """
    WITH it AS (SELECT DISTINCT user_id, event_type FROM events)
    SELECT a.event_type AS item_a, b.event_type AS item_b,
           CAST(COUNT(*) AS BIGINT) AS support, COUNT(*) < 40 AS risky
    FROM it a JOIN it b ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2
    """,
)
def x70_km_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.kanonymity import (
        km_anonymity_audit,
    )

    ev = load_table(spark, sf_dir, "events")
    return km_anonymity_audit(ev, "user_id", "event_type", m=2, k=40)


# --------------------------------------------------------------------------
# X71 — chi-squared independence statistic (operators/stats.py
# chi_squared): the significance companion to x64's MI, computed
# grid-free over observed cells only (X² = N·Σc²/(ca·cb) − N).
# --------------------------------------------------------------------------
@query(
    "x71_chi_squared",
    """
    WITH j AS (SELECT lang AS a, source AS b, COUNT(*) AS c
               FROM documents
               WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
    m AS (SELECT *, SUM(c) OVER (PARTITION BY a) AS ca,
                 SUM(c) OVER (PARTITION BY b) AS cb,
                 SUM(c) OVER () AS nn,
                 ROW_NUMBER() OVER (PARTITION BY a ORDER BY b) AS ra,
                 ROW_NUMBER() OVER (PARTITION BY b ORDER BY a) AS rb
          FROM j)
    SELECT CAST(MAX(nn) AS BIGINT) AS n,
           CAST((SUM(CASE WHEN ra = 1 THEN 1 ELSE 0 END) - 1)
                * (SUM(CASE WHEN rb = 1 THEN 1 ELSE 0 END) - 1) AS BIGINT) AS dof,
           ROUND(CAST(MAX(nn) AS DOUBLE)
                     * SUM(CAST(c * c AS DOUBLE) / CAST(ca * cb AS DOUBLE))
                 - CAST(MAX(nn) AS DOUBLE), 9) AS chi2_r
    FROM m
    """,
)
def x71_chi_squared(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import chi_squared

    docs = load_table(spark, sf_dir, "documents")
    return chi_squared(docs, "lang", "source")


# --------------------------------------------------------------------------
# X72 — event-flow transition matrix (operators/stats.py
# transition_matrix): consecutive-event counts + row-normalized Markov
# probabilities — the "user flow" analytics view. One user-key shuffle.
# --------------------------------------------------------------------------
@query(
    "x72_transitions",
    """
    WITH p AS (SELECT user_id, event_type,
                      LAG(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS from_type
               FROM events),
    c AS (SELECT from_type, event_type AS to_type, COUNT(*) AS cnt
          FROM p WHERE from_type IS NOT NULL GROUP BY 1, 2)
    SELECT from_type, to_type, CAST(cnt AS BIGINT) AS cnt,
           ROUND(CAST(cnt AS DOUBLE)
                 / CAST(SUM(cnt) OVER (PARTITION BY from_type) AS DOUBLE), 9) AS p_r
    FROM c
    """,
)
def x72_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import transition_matrix

    ev = load_table(spark, sf_dir, "events")
    return transition_matrix(ev)


# --------------------------------------------------------------------------
# X73 — DP range queries off the x56 dyadic tree (operators/dp.py
# dp_range_counts): arbitrary time ranges as SIGNED prefix covers over
# one noised tree — consistent, one-epsilon, polylog error. The exact
# twin certifies the signed-cover algebra against direct BETWEEN counts.
# --------------------------------------------------------------------------
_X73_RANGES = [(0, 23), (24, 167), (168, 719), (0, 719), (100, 100)]


@query(
    "x73_range_counts_exact",
    """
    WITH r(range_id, lo, hi) AS (VALUES (0, 0, 23), (1, 24, 167), (2, 168, 719),
                                        (3, 0, 719), (4, 100, 100)),
    b AS (SELECT CAST(FLOOR(date_diff('second', TIMESTAMP '2024-01-01 00:00:00', ts)
                            / 3600) AS BIGINT) AS t FROM events),
    v AS (SELECT t FROM b WHERE t >= 0 AND t < 720)
    SELECT r.range_id, CAST(r.lo AS BIGINT) AS lo, CAST(r.hi AS BIGINT) AS hi,
           CAST(COUNT(v.t) AS BIGINT) AS range_exact
    FROM r LEFT JOIN v ON v.t BETWEEN r.lo AND r.hi
    GROUP BY 1, 2, 3
    """,
)
def x73_range_counts_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_range_counts

    ev = load_table(spark, sf_dir, "events")
    return dp_range_counts(
        ev, "ts", _X56_START, _X56_BUCKETS, _X73_RANGES, "1 hour", exact=True
    )


@query("x73_range_counts")
def x73_range_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: the noisy release, sharing the x56 tree label so both
    releases ride one epsilon and answer consistently."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_range_counts

    ev = load_table(spark, sf_dir, "events")
    return dp_range_counts(
        ev, "ts", _X56_START, _X56_BUCKETS, _X73_RANGES, "1 hour",
        epsilon=1.0, seed=42, release="x56",
    )


# --------------------------------------------------------------------------
# X74 — A/B conversion analysis (operators/stats.py ab_test_proportions):
# deterministic hash-split assignment + two-proportion z, the experiment
# primitive, oracle-checkable end to end.
# --------------------------------------------------------------------------
@query(
    "x74_ab_test",
    """
    WITH u AS (SELECT user_id,
                      MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
               FROM events GROUP BY 1),
    t AS (SELECT CASE WHEN substr(md5(cast(user_id AS varchar) || '|ab'), 1, 8)
                           < '80000000' THEN 'a' ELSE 'b' END AS v, conv FROM u),
    a AS (SELECT CAST(SUM(CASE WHEN v = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                 CAST(SUM(CASE WHEN v = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                 CAST(SUM(CASE WHEN v = 'a' THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
                 CAST(SUM(CASE WHEN v = 'b' THEN conv ELSE 0 END) AS BIGINT) AS conv_b
          FROM t),
    f AS (SELECT *, CAST(conv_a AS DOUBLE) / n_a AS pa,
                 CAST(conv_b AS DOUBLE) / n_b AS pb,
                 CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) AS pool FROM a),
    s AS (SELECT *, SQRT(pool * (1.0 - pool) * (1.0 / n_a + 1.0 / n_b)) AS se FROM f)
    SELECT n_a, n_b, conv_a, conv_b,
           ROUND(pa, 9) AS rate_a_r, ROUND(pb, 9) AS rate_b_r,
           ROUND(CASE WHEN se > 0 THEN (pa - pb) / se END, 9) AS z_r
    FROM s
    """,
)
def x74_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import ab_test_proportions

    ev = load_table(spark, sf_dir, "events")
    return ab_test_proportions(ev, salt="ab")


# --------------------------------------------------------------------------
# X75 — Benford first-digit audit (operators/stats.py benford_audit):
# the fabricated-numbers screen over a money column. The Benford
# probabilities are driver-side literals shared verbatim with this
# generated twin (the bigram-LM log-table convention).
# --------------------------------------------------------------------------
def _benford_sql(table: str, col: str) -> str:
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import BENFORD_P

    case = " ".join(f"WHEN {d} THEN {BENFORD_P[d]!r}" for d in range(1, 10))
    return f"""
    WITH d AS (SELECT CAST(regexp_extract(CAST({col} AS VARCHAR), '[1-9]', 0) AS INT)
                   AS digit
               FROM {table} WHERE {col} IS NOT NULL AND {col} > 0),
    c AS (SELECT digit, COUNT(*) AS n_obs FROM d GROUP BY 1),
    sp AS (SELECT gs.g AS digit FROM generate_series(1, 9) gs(g)),
    f AS (SELECT sp.digit, COALESCE(c.n_obs, 0) AS n_obs
          FROM sp LEFT JOIN c ON c.digit = sp.digit),
    pb AS (SELECT digit, n_obs, CASE digit {case} END AS p_ben FROM f),
    t AS (SELECT *, SUM(n_obs) OVER () AS nn FROM pb),
    e AS (SELECT *, CAST(n_obs AS DOUBLE) / nn AS p_obs, p_ben * nn AS expd FROM t),
    g AS (SELECT *, SUM((n_obs - expd) * (n_obs - expd) / expd) OVER () AS chi2 FROM e)
    SELECT digit, CAST(n_obs AS BIGINT) AS n_obs, ROUND(p_obs, 9) AS p_obs_r,
           ROUND(p_ben, 9) AS p_benford_r, ROUND(p_obs - p_ben, 9) AS dev_r,
           ROUND(chi2, 9) AS chi2_r
    FROM g
    """


@query("x75_benford", _benford_sql("lineitem", "l_extendedprice"))
def x75_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import benford_audit

    li = load_table(spark, sf_dir, "lineitem")
    return benford_audit(li, "l_extendedprice")


# --------------------------------------------------------------------------
# X76 — seasonal activity index (operators/stats.py seasonality_index):
# per-type hour-of-day traffic share vs a flat profile, zero-filled over
# the public slot domain.
# --------------------------------------------------------------------------
@query(
    "x76_seasonality",
    """
    WITH c AS (SELECT event_type, CAST(EXTRACT(hour FROM ts) AS INT) AS slot,
                      COUNT(*) AS n FROM events GROUP BY 1, 2),
    g AS (SELECT DISTINCT event_type FROM c),
    sp AS (SELECT gs.g AS slot FROM generate_series(0, 23) gs(g)),
    d AS (SELECT g.event_type, sp.slot, COALESCE(c.n, 0) AS n
          FROM g CROSS JOIN sp
          LEFT JOIN c ON c.event_type = g.event_type AND c.slot = sp.slot)
    SELECT event_type, slot, CAST(n AS BIGINT) AS n,
           ROUND(CAST(n AS DOUBLE) * 24.0
                 / CAST(SUM(n) OVER (PARTITION BY event_type) AS DOUBLE), 9)
               AS index_r
    FROM d
    """,
)
def x76_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import seasonality_index

    ev = load_table(spark, sf_dir, "events")
    return seasonality_index(ev, ["event_type"])


# --------------------------------------------------------------------------
# X77 — declarative expectation suite (operators/integrity.py
# expectation_report): five rule kinds over orders compiled into ONE
# aggregation over ONE scan; the report row is the dataset-card /
# pipeline-gate primitive.
# --------------------------------------------------------------------------
@query(
    "x77_expectations",
    """
    WITH a AS (SELECT
      CAST(COUNT(*) AS BIGINT) AS chk0,
      CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS vio0,
      CAST(COUNT(o_orderkey) AS BIGINT) AS chk1,
      CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS vio1,
      CAST(COUNT(o_totalprice) AS BIGINT) AS chk2,
      CAST(SUM(CASE WHEN o_totalprice IS NOT NULL
                     AND (o_totalprice < 0.0 OR o_totalprice > 1000000.0)
                    THEN 1 ELSE 0 END) AS BIGINT) AS vio2,
      CAST(COUNT(o_orderstatus) AS BIGINT) AS chk3,
      CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
                     AND o_orderstatus NOT IN ('F', 'O', 'P')
                    THEN 1 ELSE 0 END) AS BIGINT) AS vio3,
      CAST(COUNT(o_orderpriority) AS BIGINT) AS chk4,
      CAST(SUM(CASE WHEN o_orderpriority IS NOT NULL
                     AND NOT regexp_matches(o_orderpriority, '^[1-5]-')
                    THEN 1 ELSE 0 END) AS BIGINT) AS vio4
      FROM orders)
    SELECT CAST(0 AS INT) AS rule_id, 'not_null' AS rule, 'o_custkey' AS "column",
           chk0 AS n_checked, vio0 AS n_violations, vio0 = 0 AS passed FROM a
    UNION ALL SELECT CAST(1 AS INT), 'unique', 'o_orderkey', chk1, vio1, vio1 = 0 FROM a
    UNION ALL SELECT CAST(2 AS INT), 'in_range', 'o_totalprice', chk2, vio2, vio2 = 0 FROM a
    UNION ALL SELECT CAST(3 AS INT), 'in_set', 'o_orderstatus', chk3, vio3, vio3 = 0 FROM a
    UNION ALL SELECT CAST(4 AS INT), 'matches', 'o_orderpriority', chk4, vio4, vio4 = 0 FROM a
    """,
)
def x77_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.integrity import (
        expectation_report,
    )

    orders = load_table(spark, sf_dir, "orders")
    return expectation_report(
        orders,
        [
            ("not_null", "o_custkey"),
            ("unique", "o_orderkey"),
            ("in_range", "o_totalprice", 0.0, 1_000_000.0),
            ("in_set", "o_orderstatus", ["F", "O", "P"]),
            ("matches", "o_orderpriority", "^[1-5]-"),
        ],
    )


# --------------------------------------------------------------------------
# X79 — Kaplan-Meier survival (operators/stats.py kaplan_meier +
# time_to_event): time-to-conversion with right censoring; the survival
# product runs as exp(cumsum(ln)) with an explicit zero-factor flag over
# the slim per-distinct-time relation.
# --------------------------------------------------------------------------
@query(
    "x79_kaplan_meier",
    """
    WITH pu AS (SELECT user_id,
                       MIN(date_diff('second', TIMESTAMP '1970-01-01', ts)) AS s0,
                       MAX(date_diff('second', TIMESTAMP '1970-01-01', ts)) AS s1,
                       MIN(CASE WHEN event_type = 'purchase'
                                THEN date_diff('second', TIMESTAMP '1970-01-01', ts)
                           END) AS sc
                FROM events GROUP BY 1),
    d AS (SELECT COALESCE(sc - s0, s1 - s0) AS t,
                 CASE WHEN sc IS NOT NULL THEN 1 ELSE 0 END AS ev FROM pu),
    g AS (SELECT t, SUM(ev) AS d, COUNT(*) AS obs FROM d GROUP BY 1),
    s AS (SELECT *, SUM(obs) OVER ()
                    - COALESCE(SUM(obs) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
                                              PRECEDING AND 1 PRECEDING), 0) AS n_risk
          FROM g),
    f AS (SELECT *, 1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS fct FROM s),
    c AS (SELECT *,
                 MAX(CASE WHEN fct = 0.0 THEN 1 ELSE 0 END)
                     OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS dead,
                 SUM(CASE WHEN fct > 0.0 THEN LN(fct) ELSE 0.0 END)
                     OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS logsum
          FROM f)
    SELECT t, CAST(n_risk AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS d_events,
           ROUND(CASE WHEN dead = 1 THEN 0.0 ELSE EXP(logsum) END, 9) AS survival_r
    FROM c WHERE d > 0
    """,
)
def x79_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import (
        kaplan_meier,
        time_to_event,
    )

    ev = load_table(spark, sf_dir, "events")
    return kaplan_meier(time_to_event(ev, "purchase"))


# --------------------------------------------------------------------------
# X80 — Mann-Whitney U (operators/stats.py mann_whitney_u): the
# nonparametric metric A/B, U from the distinct-value count relation
# with the standard tie correction. Compares the 'value' distribution of
# click vs view events.
# --------------------------------------------------------------------------
@query(
    "x80_mann_whitney",
    """
    WITH c AS (SELECT value AS v,
                      SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS na,
                      SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS nb
               FROM events WHERE event_type IN ('click', 'view')
                 AND value IS NOT NULL GROUP BY 1),
    s AS (SELECT *, COALESCE(SUM(nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                                           PRECEDING AND 1 PRECEDING), 0) AS b_below,
                 na + nb AS t FROM c),
    a AS (SELECT CAST(SUM(na) AS BIGINT) AS n_a, CAST(SUM(nb) AS BIGINT) AS n_b,
                 SUM(CAST(na AS DOUBLE)
                     * (CAST(b_below AS DOUBLE) + CAST(nb AS DOUBLE) / 2.0)) AS u,
                 CAST(SUM(t * t * t - t) AS DOUBLE) AS ties
          FROM s),
    f AS (SELECT *, CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd FROM a),
    z AS (SELECT *, nad + nbd AS nn,
                 SQRT(nad * nbd / 12.0 * ((nad + nbd + 1.0)
                      - ties / ((nad + nbd) * (nad + nbd - 1.0)))) AS sigma
          FROM f)
    SELECT n_a, n_b, ROUND(u, 9) AS u_a_r,
           ROUND(CASE WHEN sigma > 0 THEN (u - nad * nbd / 2.0) / sigma END, 9) AS z_r
    FROM z
    """,
)
def x80_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import mann_whitney_u

    ev = load_table(spark, sf_dir, "events")
    return mann_whitney_u(ev, "value", "event_type", "click", "view")


# --------------------------------------------------------------------------
# X97 — (δmin, δmax)-presence audit (operators/metrics.py
# delta_presence_audit): membership-disclosure risk per population QI
# class, completing the privacy-model family (k-anon / l-div / t-close /
# k-map / k^m / β-likeness / δ-presence). The released subset is the
# engine's own deterministic 40% hash sample so the oracle reconstructs
# it exactly.
# --------------------------------------------------------------------------
_X97_T40 = "66666666"  # _threshold_hex(0.4)


@query(
    "x97_delta_presence",
    f"""
    WITH rel AS (SELECT * FROM customer
                 WHERE substr(md5(cast(c_custkey AS varchar) || '|x97'), 1, 8)
                       < '{_X97_T40}'),
    pop AS (SELECT c_nationkey, c_mktsegment, COUNT(*) AS n_pop
            FROM customer GROUP BY 1, 2),
    r AS (SELECT c_nationkey, c_mktsegment, COUNT(*) AS n_released
          FROM rel GROUP BY 1, 2)
    SELECT pop.c_nationkey, pop.c_mktsegment, pop.n_pop,
           CAST(COALESCE(r.n_released, 0) AS BIGINT) AS n_released,
           ROUND(CAST(COALESCE(r.n_released, 0) AS DOUBLE) / pop.n_pop, 9)
             AS delta_r,
           (CAST(COALESCE(r.n_released, 0) AS DOUBLE) / pop.n_pop < 0.15
            OR CAST(COALESCE(r.n_released, 0) AS DOUBLE) / pop.n_pop > 0.6)
             AS violates
    FROM pop LEFT JOIN r USING (c_nationkey, c_mktsegment)
    """,
)
def x97_delta_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """δ-presence of a deterministic 40% release of customer against the
    full table, QI = (nationkey, mktsegment), bounds (0.15, 0.6)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.metrics import (
        delta_presence_audit,
    )
    from dbms_data_anonymity_differential_privacy_spark.operators.sampling import hash_sample

    c = load_table(spark, sf_dir, "customer")
    released = hash_sample(c, ["c_custkey"], 0.4, salt="x97")
    return delta_presence_audit(
        c, released, ["c_nationkey", "c_mktsegment"], delta_min=0.15, delta_max=0.6
    )


# --------------------------------------------------------------------------
# X95 — Z-order layout key (operators/sampling.py zorder_layout): the
# lakehouse OPTIMIZE ZORDER primitive — equal-width bin each dimension,
# bit-interleave the bins, sort by the key before write so per-file
# min/max stats prune on EVERY listed dimension. Integer-exact binning +
# a fixed shift-mask sum, no UDF; oracle computes the same stats inline.
# --------------------------------------------------------------------------
def _x95_sql() -> str:
    from dbms_data_anonymity_differential_privacy_spark.operators.sampling import zorder_layout_sql

    return zorder_layout_sql(
        "lineitem", ["l_partkey", "l_suppkey"],
        keep=["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"], bits=8,
    )


@query("x95_zorder", _x95_sql())
def x95_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton keys for lineitem over (l_partkey, l_suppkey), 8 bits/dim."""
    from dbms_data_anonymity_differential_privacy_spark.operators.sampling import zorder_layout

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    return zorder_layout(li, ["l_partkey", "l_suppkey"], bits=8)


# --------------------------------------------------------------------------
# X91 — per-group winsorization (operators/metrics.py winsorize): clip to
# exact per-group [p1, p99]; type-7 percentile interpolation bit-matches
# quantile_cont (the x22 exactness), so the clipped column hashes with NO
# rounding. Broadcast cut points + map-only clip — fact never shuffles.
# --------------------------------------------------------------------------
@query(
    "x91_winsorize",
    """
    WITH cuts AS (SELECT event_type,
                         quantile_cont(value, 0.01) AS lo,
                         quantile_cont(value, 0.99) AS hi
                  FROM events GROUP BY 1)
    SELECT e.event_id, e.event_type, e.value,
           LEAST(GREATEST(e.value, c.lo), c.hi) AS value_w
    FROM events e JOIN cuts c USING (event_type)
    """,
)
def x91_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type [p1, p99] clipping of the event value column."""
    from dbms_data_anonymity_differential_privacy_spark.operators.metrics import winsorize

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return winsorize(ev, ["event_type"], "value", 0.01, 0.99)


# --------------------------------------------------------------------------
# X87 — rolling z-score anomaly detection (operators/stats.py
# rolling_anomaly): trailing-window mean/var from INTEGER window sums
# (exact in BIGINT — none of the merge-order drift a native stddev
# accumulator has), scores only on full windows.
# --------------------------------------------------------------------------
@query(
    "x87_rolling_anomaly",
    """
    WITH c AS (SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket_start,
                      COUNT(*) AS n
               FROM events GROUP BY 1, 2),
    w AS (SELECT event_type, bucket_start, n,
                 SUM(n) OVER win AS ws, SUM(n * n) OVER win AS wsq,
                 COUNT(n) OVER win AS wc
          FROM c
          WINDOW win AS (PARTITION BY event_type ORDER BY bucket_start
                         ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
    s AS (SELECT event_type, bucket_start, n,
                 ROUND(CAST(ws AS DOUBLE) / 24.0, 9) AS mean_r,
                 CASE WHEN (24 * wsq - ws * ws) > 0 THEN
                   ROUND((CAST(n AS DOUBLE) - CAST(ws AS DOUBLE) / 24.0)
                         / sqrt(CAST(24 * wsq - ws * ws AS DOUBLE) / 552.0), 9)
                 END AS z_r
          FROM w WHERE wc = 24)
    SELECT event_type, bucket_start, n, mean_r, z_r,
           (ABS(z_r) >= 3.0) AS is_anomaly
    FROM s
    """,
)
def x87_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-type event rates scored against the trailing 24h."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import rolling_anomaly

    ev = load_table(spark, sf_dir, "events")
    return rolling_anomaly(ev, ["event_type"], bucket="1 hour", window=24, z_threshold=3.0)


# --------------------------------------------------------------------------
# X88 — CUSUM change detection (operators/stats.py cusum_changepoints):
# Page's recursion via its exact closed form S_t = C_t − min(0, min C_i)
# (window cumsum + running min — order-deterministic, integer-exact on
# counts), symmetric downward statistic on −x.
# --------------------------------------------------------------------------
@query(
    "x88_cusum",
    """
    WITH c AS (SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket_start,
                      COUNT(*) AS n
               FROM events GROUP BY 1, 2),
    cum AS (SELECT event_type, bucket_start, n,
                   SUM(n - 3) OVER win AS cp, SUM(3 - n) OVER win AS cn
            FROM c
            WINDOW win AS (PARTITION BY event_type ORDER BY bucket_start
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    s AS (SELECT event_type, bucket_start, n,
                 CAST(cp - MIN(LEAST(cp, 0)) OVER win AS BIGINT) AS s_pos,
                 CAST(cn - MIN(LEAST(cn, 0)) OVER win AS BIGINT) AS s_neg
          FROM cum
          WINDOW win AS (PARTITION BY event_type ORDER BY bucket_start
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT event_type, bucket_start, n, s_pos, s_neg,
           ((s_pos >= 15.0 AND COALESCE(LAG(s_pos) OVER wo, 0) < 15.0)
            OR (s_neg >= 15.0 AND COALESCE(LAG(s_neg) OVER wo, 0) < 15.0)) AS is_change
    FROM s
    WINDOW wo AS (PARTITION BY event_type ORDER BY bucket_start)
    """,
)
def x88_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM on hourly per-type rates (reference 3, threshold 15)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import cusum_changepoints

    ev = load_table(spark, sf_dir, "events")
    return cusum_changepoints(ev, ["event_type"], bucket="1 hour", drift=3, threshold=15.0)


# --------------------------------------------------------------------------
# X89 — DP set union (operators/dp.py dp_set_union): vocabulary release
# with per-user contribution capping (portable md5 ranking, the x46
# convention) + stability threshold. The exact twin thresholds the capped
# support relation on EXACT counts with the SAME rho literal; the noisy
# release is rows-only (X1 convention).
# --------------------------------------------------------------------------
_X89_RHO = 3 + (3 / 2.0) * math.log(3 / (2.0 * 0.05))


@query(
    "x89_set_union_exact",
    f"""
    WITH pairs AS (SELECT DISTINCT user_id,
                          CASE WHEN json_valid(props)
                               THEN json_extract_string(props, '$.k') END AS item
                   FROM events),
    r AS (SELECT user_id, item,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                      ORDER BY md5(CAST(user_id AS VARCHAR) || '|' || item)) AS rn
          FROM pairs),
    agg AS (SELECT item, COUNT(*) AS n_exact FROM r WHERE rn <= 3 GROUP BY 1)
    SELECT item, n_exact FROM agg WHERE n_exact >= {_X89_RHO!r}
    """,
)
def x89_set_union_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-noise DP-set-union core: capped (user, item) support counts
    thresholded at the shared rho literal (Delta=3, eps=2, delta=0.05)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_set_union_exact

    ev = load_table(spark, sf_dir, "events")
    items = ev.select(
        "user_id", F.get_json_object("props", "$.k").alias("item")
    )
    return dp_set_union_exact(items, "item", "user_id", epsilon=2.0, delta=0.05, max_items=3)


@query("x89_set_union")
def x89_set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The noisy (eps, delta)-DP release (rows-only: includes the
    Laplace draws; determinism + budget semantics in pytest)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_set_union

    ev = load_table(spark, sf_dir, "events")
    items = ev.select("user_id", F.get_json_object("props", "$.k").alias("item"))
    return dp_set_union(
        items, "item", "user_id", epsilon=2.0, delta=0.05, max_items=3, release="x89"
    )


# --------------------------------------------------------------------------
# X84 — exact per-stratum proportional split (operators/sampling.py
# stratified_split): hash_split is proportional only in expectation; this
# ranks each stratum by (md5 hash, key) and cuts at floor(cum_frac * n).
# The oracle embeds the SAME accumulated cum-fraction doubles (repr'd from
# the identical Python accumulation) so the floor boundaries are
# bit-identical across engines.
# --------------------------------------------------------------------------
_X84_SPLITS = [("train", 0.8), ("val", 0.1), ("test", 0.1)]


def _x84_oracle_sql(splits: list[tuple[str, float]], salt: str = "sp") -> str:
    case = []
    cum = 0.0
    for label, frac in splits:
        cum += frac
        case.append(f"WHEN pos <= FLOOR(n * {cum!r}) THEN '{label}'")
    cases = " ".join(case)
    return f"""
    WITH h AS (SELECT doc_id, lang,
                      substring(md5(CAST(doc_id AS VARCHAR) || '|' || '{salt}'), 1, 8) AS hh
               FROM documents),
    r AS (SELECT doc_id, lang,
                 ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hh, doc_id) AS pos,
                 COUNT(*) OVER (PARTITION BY lang) AS n
          FROM h)
    SELECT doc_id, lang, CASE {cases} END AS split FROM r
    """


@query("x84_stratified_split", _x84_oracle_sql(_X84_SPLITS))
def x84_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 80/10/10 per-language split of the corpus — every language
    gets exactly floor(n*cum) rows per boundary, deterministic under any
    partitioning."""
    from dbms_data_anonymity_differential_privacy_spark.operators.sampling import stratified_split

    docs = load_table(spark, sf_dir, "documents")
    return stratified_split(
        docs, ["lang"], ["doc_id"], _X84_SPLITS, salt="sp"
    ).select("doc_id", "lang", "split")


# --------------------------------------------------------------------------
# X82 — quality-aware corpus dedup (operators/dedup.py policy='best'):
# the survivor of each near-dup connected component is the doc maximizing
# a quality score (here n_chars — keep the LONGEST variant, the
# RefinedWeb-style policy), ties by min id. Same recursive-closure oracle
# as x03_dedup_corpus_cc plus a per-component argmax. Exact-dup stage
# keeps min id per identical text; identical text implies equal score, so
# the stage tie-break agrees with the component tie-break.
# --------------------------------------------------------------------------
@query(
    "x82_quality_dedup",
    """
    WITH RECURSIVE d1 AS (SELECT doc_id, text, lang, source, n_chars FROM documents
                QUALIFY ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) = 1),
    t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM d1),
    sh AS (SELECT doc_id, list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 2, 0)),
           i -> array_to_string(toks[i:i+2], ' '))) AS s FROM t),
    e AS (SELECT doc_id, len(s) AS ns, unnest(s) AS shingle FROM sh),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ns AS na, b.ns AS nb,
                 COUNT(*) AS inter
          FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4),
    pe AS (SELECT id_a, id_b FROM p WHERE ROUND(inter / (na + nb - inter), 9) >= 0.2),
    sym AS (SELECT id_a AS a, id_b AS b FROM pe
            UNION ALL SELECT id_b AS a, id_a AS b FROM pe),
    reach(id, anc) AS (SELECT DISTINCT a AS id, a AS anc FROM sym
                       UNION
                       SELECT s.b AS id, r.anc FROM reach r JOIN sym s ON s.a = r.id),
    comp AS (SELECT id, MIN(anc) AS comp FROM reach GROUP BY id),
    ranked AS (SELECT c.id, ROW_NUMBER() OVER (PARTITION BY c.comp
                    ORDER BY d1.n_chars DESC, c.id) AS rn
               FROM comp c JOIN d1 ON d1.doc_id = c.id)
    SELECT d1.* FROM d1
    WHERE doc_id NOT IN (SELECT id FROM ranked WHERE rn > 1)
    """,
)
def x82_quality_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup corpus dedup keeping the highest-quality (longest) doc per
    connected component instead of the min-id accident — document bodies
    never shuffle; only the slim (id, score) projection joins the
    component relation."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import near_dedup_corpus

    docs = load_table(spark, sf_dir, "documents")
    return near_dedup_corpus(
        docs, threshold=0.2, n=3, method="jaccard", policy="best", score_col="n_chars"
    )


# --------------------------------------------------------------------------
# X81 — batched k-NN join (operators/similarity.py knn_join): every query
# vector against the whole corpus, corpus never shuffles, query batch
# broadcasts, per-query rank<=k as a map-side WindowGroupLimit partial.
# The sql flavor's sequential fold is bit-identical to DuckDB
# list_dot_product (the x04 equivalence); the arrow/BLAS flavor is the
# default production path, equivalence-tested in tests/test_extensions.py.
# --------------------------------------------------------------------------
@query(
    "x81_knn_join",
    f"""
    WITH q AS (SELECT vec_id AS id_q, embedding AS qv
               FROM embeddings WHERE vec_id % 100 = 0),
    p AS (SELECT q.id_q, e.vec_id AS id_c,
                 ROUND({_duck_cos('e.embedding', 'q.qv')}, 6) AS cos
          FROM embeddings e CROSS JOIN q),
    r AS (SELECT id_q, id_c, cos,
                 CAST(ROW_NUMBER() OVER (PARTITION BY id_q
                      ORDER BY cos DESC NULLS LAST, id_c) AS INTEGER) AS rnk
          FROM p)
    SELECT id_q, id_c, cos, rnk FROM r WHERE rnk <= 5
    """,
)
def x81_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every 100th vector probes the corpus for its 5 nearest neighbors
    (self-match included — cos 1.0 rank 1 — the standard retrieval
    convention; callers drop rnk=1 for leave-one-out). impl='sql' pinned:
    this is the oracle-bit-exact path; the default is arrow/BLAS."""
    from dbms_data_anonymity_differential_privacy_spark.operators.similarity import knn_join

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 100 == 0)
    return knn_join(emb, q, k=5, impl="sql")


@query("x81_knn_join_arrow")
def x81_knn_join_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLAS flavor of the k-NN join (rows-only: float accumulation order
    differs from the sequential fold at the last bit; equivalence to the
    sql flavor is pinned in tests/test_extensions.py)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.similarity import knn_join

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 100 == 0)
    return knn_join(emb, q, k=5, impl="arrow")


# --------------------------------------------------------------------------
# X99 — per-document TF-IDF keywords (operators/text.py tfidf_topk):
# word-count shuffle + vocab-sized df agg + broadcast driver-libm idf
# table + map-side WindowGroupLimit top-k. Oracle mirrors the exact
# smoothing/rounding/tie conventions.
# --------------------------------------------------------------------------
@query(
    "x99_tfidf_topk",
    """
    WITH toks AS (SELECT doc_id,
                         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
                  FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
           WHERE term <> '' GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(*) AS df_docs FROM tf GROUP BY 1),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
    scored AS (SELECT tf.doc_id, tf.term, tf.tf, d.df_docs,
                      ROUND(tf.tf * ln((n.n_docs + 1.0) / (d.df_docs + 1.0)), 6) AS tfidf_r
               FROM tf JOIN dfreq d USING (term) CROSS JOIN n),
    r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                         ORDER BY tfidf_r DESC, term) AS INTEGER) AS rnk
          FROM scored)
    SELECT doc_id, term, tf, df_docs, tfidf_r, rnk FROM r WHERE rnk <= 5
    """,
)
def x99_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF keyword terms per document."""
    from dbms_data_anonymity_differential_privacy_spark.operators.text import tfidf_topk

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_topk(docs, k=5)


# --------------------------------------------------------------------------
# X100 — QI-subset uniqueness search (operators/metrics.py
# qi_uniqueness_search): SUDA-style lattice screen — every non-empty QI
# subset's class census from ONE cube() pass (single Expand + partial
# agg, the x33 lever). GROUPING() flags + NULL-skipping concat_ws keep
# both engines' subset labels identical.
# --------------------------------------------------------------------------
@query(
    "x100_qi_search",
    f"""
    WITH {BINNED_CUSTOMER_CTE},
    g AS (SELECT GROUPING(c_nationkey) AS g1, GROUPING(c_mktsegment) AS g2,
                 GROUPING(acctbal_bin) AS g3, COUNT(*) AS n
          FROM binned GROUP BY CUBE (c_nationkey, c_mktsegment, acctbal_bin)),
    lab AS (SELECT concat_ws(',',
                       CASE WHEN g1 = 0 THEN 'c_nationkey' END,
                       CASE WHEN g2 = 0 THEN 'c_mktsegment' END,
                       CASE WHEN g3 = 0 THEN 'acctbal_bin' END) AS qi_subset,
                   g1 + g2 + g3 AS ng, n
            FROM g WHERE g1 + g2 + g3 < 3)
    SELECT qi_subset, CAST(3 - MIN(ng) AS INT) AS n_cols,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons,
           MIN(n) AS min_class_size, MAX(n) AS max_class_size,
           ROUND(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1.0
                 / CAST(SUM(n) AS BIGINT), 6) AS uniqueness_r
    FROM lab GROUP BY qi_subset
    """,
)
def x100_qi_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-size census of every non-empty customer-QI subset."""
    from dbms_data_anonymity_differential_privacy_spark.operators.metrics import qi_uniqueness_search

    b = binned_customer(spark, sf_dir)
    return qi_uniqueness_search(b, CUST_QI)


# --------------------------------------------------------------------------
# X101 — (alpha, k)-anonymity audit (operators/tcloseness.py
# ak_anonymity_audit, Wong et al. PAKDD 2006): k-anonymity + per-class
# sensitive-dominance cap. Counts-relation algebra (x39/x51 shape).
# --------------------------------------------------------------------------
@query(
    "x101_ak_anonymity",
    f"""
    WITH {BINNED_CUSTOMER_CTE},
    counts AS (SELECT c_nationkey, acctbal_bin, c_mktsegment, COUNT(*) AS c
               FROM binned GROUP BY 1, 2, 3),
    cls AS (SELECT c_nationkey, acctbal_bin,
                   CAST(SUM(c) AS BIGINT) AS class_size,
                   MAX(c) AS max_sens_count
            FROM counts GROUP BY 1, 2)
    SELECT c_nationkey, acctbal_bin, class_size, max_sens_count,
           ROUND(max_sens_count * 1.0 / class_size, 6) AS max_share_r,
           class_size >= 5 AS k_ok,
           max_sens_count <= 0.5 * class_size AS alpha_ok,
           (class_size >= 5 AND max_sens_count <= 0.5 * class_size) AS ak_ok
    FROM cls
    """,
)
def x101_ak_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(alpha=0.5, k=5) audit of customer classes on (nation, acctbal bin)
    with mktsegment as the sensitive attribute."""
    from dbms_data_anonymity_differential_privacy_spark.operators.tcloseness import ak_anonymity_audit

    b = binned_customer(spark, sf_dir)
    return ak_anonymity_audit(b, ["c_nationkey", "acctbal_bin"], "c_mktsegment", k=5, alpha=0.5)


# --------------------------------------------------------------------------
# X102 — co-purchase association pairs (operators/stats.py
# copurchase_lift): distinct (order, part) collapse -> basket-keyed
# self-join -> exact-integer lift, top-k via TakeOrderedAndProject.
# --------------------------------------------------------------------------
@query(
    "x102_copurchase",
    """
    WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
    n AS (SELECT COUNT(DISTINCT b) AS nb FROM items),
    ic AS (SELECT i, COUNT(*) AS ci FROM items GROUP BY 1),
    pairs AS (SELECT a.i AS item_a, b.i AS item_b, COUNT(*) AS pair_count
              FROM items a JOIN items b ON a.b = b.b AND a.i < b.i
              GROUP BY 1, 2)
    SELECT item_a, item_b, pair_count,
           ROUND((pair_count * n.nb) * 1.0 / (ca.ci * cb.ci), 6) AS lift_r
    FROM pairs
    JOIN ic ca ON ca.i = pairs.item_a
    JOIN ic cb ON cb.i = pairs.item_b
    CROSS JOIN n
    ORDER BY pair_count DESC, item_a, item_b LIMIT 50
    """,
)
def x102_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 co-purchased part pairs across orders, with lift."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import copurchase_lift

    li = load_table(spark, sf_dir, "lineitem")
    return copurchase_lift(li, "l_orderkey", "l_partkey", top_k=50)


# --------------------------------------------------------------------------
# X103 — entity resolution (operators/linkage.py resolve_entities):
# FastSS fuzzy pairs -> min-label connected components -> canonical =
# the min-id member. Oracle: brute-force lev<=1 pairs + WITH RECURSIVE
# closure (x31 + x03_cc twins composed).
# --------------------------------------------------------------------------
@query(
    "x103_entities",
    """
    WITH RECURSIVE s AS (SELECT c_custkey AS id, c_name AS v FROM customer
                         WHERE c_custkey % 7 = 0),
    pe AS (SELECT a.id AS id_a, b.id AS id_b
           FROM s a JOIN s b ON a.id < b.id
           WHERE levenshtein(a.v, b.v) <= 1),
    sym AS (SELECT id_a AS a, id_b AS b FROM pe
            UNION ALL SELECT id_b AS a, id_a AS b FROM pe),
    reach(id, anc) AS (SELECT DISTINCT a AS id, a AS anc FROM sym
                       UNION
                       SELECT sy.b AS id, r.anc FROM reach r JOIN sym sy ON sy.a = r.id),
    comp AS (SELECT id, MIN(anc) AS comp FROM reach GROUP BY id),
    lab AS (SELECT s.id, s.v, COALESCE(comp.comp, s.id) AS entity_id
            FROM s LEFT JOIN comp ON comp.id = s.id)
    SELECT e.entity_id, e.n_records, c.v AS canonical_value
    FROM (SELECT entity_id, CAST(COUNT(*) AS BIGINT) AS n_records
          FROM lab GROUP BY 1) e
    JOIN lab c ON c.id = e.entity_id
    """,
)
def x103_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer entities: names within levenshtein 1 merge transitively;
    the canonical record is the minimum custkey member. Run over the
    custkey%7 slice: the synthetic corpus's sequential names otherwise
    chain the WHOLE table into one lev-1 component (a degenerate demo —
    real dirty data has sparse near-dup clusters, which the slice
    reproduces: 84 entities, max cluster 8 at sf0.01)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.linkage import resolve_entities

    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 7 == 0)
    return resolve_entities(c, "c_name", "c_custkey")


# --------------------------------------------------------------------------
# X125 — SCD Type 2 build (operators/scd.py scd2_build): change-compress
# the per-user event stream, then validity intervals / versions / the
# is_current flag off the same key-partitioned window family. Oracle =
# the literal two-window construction.
# --------------------------------------------------------------------------
@query(
    "x125_scd2",
    """
    WITH s AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
               FROM events WHERE user_id % 20 = 0),
    r AS (SELECT *, CASE WHEN ROW_NUMBER() OVER w = 1
                           OR lag(event_type) OVER w IS DISTINCT FROM event_type
                         THEN 1 ELSE 0 END AS nr
          FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    st AS (SELECT user_id, event_type, ts, event_id FROM r WHERE nr = 1)
    SELECT user_id, event_type, ts AS valid_from,
           lead(ts) OVER w2 AS valid_to,
           CAST(ROW_NUMBER() OVER w2 AS INT) AS version,
           (lead(ts) OVER w2 IS NULL) AS is_current
    FROM st WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def x125_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension history of each user's event_type state stream
    (user_id % 20 slice keeps the published history sample-sized)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.scd import scd2_build

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 20 == 0)
    return scd2_build(
        ev, ["user_id"], ["event_type"], ts_col="ts", tiebreak=["event_id"]
    )


# --------------------------------------------------------------------------
# X126 — fixed-iteration integer PageRank (operators/graph.py
# pagerank_int) over the supplier→customer trade graph. Integer ppb +
# floor division at every step makes the iteration order-independent and
# hash-exact; the oracle replays the same 10 iterations as chained CTEs.
# --------------------------------------------------------------------------
def _x126_sql(iters: int = 10) -> str:
    ctes = [
        "e0 AS (SELECT DISTINCT l.l_suppkey AS src, o.o_custkey AS dst"
        " FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey)",
        "nodes AS (SELECT src AS node FROM e0 UNION SELECT dst FROM e0)",
        "nn AS (SELECT COUNT(*) AS n FROM nodes)",
        "deg AS (SELECT src AS node, COUNT(*) AS d FROM e0 GROUP BY 1)",
        "pr0 AS (SELECT node, CAST(1000000000 // nn.n AS BIGINT) AS r"
        " FROM nodes CROSS JOIN nn)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"pr{i} AS (SELECT n.node, CAST(150000000 // nn.n"
            f" + (17 * COALESCE(s.c, 0)) // 20 AS BIGINT) AS r"
            f" FROM nodes n CROSS JOIN nn LEFT JOIN"
            f" (SELECT e.dst AS node, SUM(p.r // d.d) AS c"
            f" FROM pr{i - 1} p JOIN e0 e ON e.src = p.node"
            f" JOIN deg d ON d.node = p.node GROUP BY 1) s USING (node))"
        )
    return (
        "WITH " + ", ".join(ctes) + f" SELECT node, r AS rank_ppb FROM pr{iters}"
    )


@query("x126_pagerank", _x126_sql())
def x126_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-iteration integer PageRank over distinct supplier→customer
    edges (who ships to whom, via lineitem⋈orders)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.graph import pagerank_int

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(F.col("l_suppkey").alias("src"), F.col("o_custkey").alias("dst"))
        .distinct()
    )
    return pagerank_int(edges, iters=10)


# --------------------------------------------------------------------------
# X127 — Anatomy release (operators/kanonymity.py anatomize): QIT/ST
# split with the deterministic round-robin dealing construction; output
# is the sensitive table joined with the per-group diversity audit.
# --------------------------------------------------------------------------
@query(
    "x127_anatomy",
    """
    WITH r AS (SELECT c_custkey AS id, c_mktsegment AS s,
                      ROW_NUMBER() OVER (ORDER BY c_mktsegment, c_custkey) - 1
                        AS grank
               FROM customer),
    n AS (SELECT COUNT(*) AS cnt FROM customer),
    q AS (SELECT id, s,
                 CAST(grank % CAST(CEIL(cnt / 3.0) AS BIGINT) AS INT) AS group_id
          FROM r CROSS JOIN n),
    st AS (SELECT group_id, s AS c_mktsegment, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM q GROUP BY 1, 2),
    g AS (SELECT group_id, CAST(SUM(cnt) AS BIGINT) AS group_size,
                 CAST(COUNT(*) AS BIGINT) AS n_distinct_sensitive,
                 COUNT(*) >= 3 AS l_diverse
          FROM st GROUP BY 1)
    SELECT st.group_id, st.c_mktsegment, st.cnt,
           g.group_size, g.n_distinct_sensitive, g.l_diverse
    FROM st JOIN g USING (group_id)
    """,
)
def x127_anatomy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anatomy bucketization of customers: sensitive = market segment,
    l = 3; publishes the sensitive table with its diversity audit."""
    from dbms_data_anonymity_differential_privacy_spark.operators.kanonymity import anatomize

    c = load_table(spark, sf_dir, "customer")
    parts = anatomize(
        c, qi=["c_nationkey"], sensitive="c_mktsegment", id_col="c_custkey", ell=3
    )
    return parts["st"].join(parts["groups"], on="group_id")


# --------------------------------------------------------------------------
# X129 — Bloom membership probe (operators/sketch.py bloom_membership):
# engine-portable universal hashes; probe all customers against the
# order-placing set and report the measured false-positive rate.
# --------------------------------------------------------------------------
@query(
    "x129_bloom",
    """
    WITH pos AS (SELECT DISTINCT (((o_custkey % 2147483647) * h.a + h.b)
                                  % 2147483647) % 8192 AS p
                 FROM orders, (VALUES (982451653, 12289), (715827883, 524287),
                                      (179424673, 6700417)) AS h(a, b)),
    pr AS (SELECT c_custkey AS key,
             (((c_custkey % 2147483647) * 982451653 + 12289) % 2147483647) % 8192 AS p0,
             (((c_custkey % 2147483647) * 715827883 + 524287) % 2147483647) % 8192 AS p1,
             (((c_custkey % 2147483647) * 179424673 + 6700417) % 2147483647) % 8192 AS p2
           FROM customer),
    m AS (SELECT key, (p0 IN (SELECT p FROM pos) AND p1 IN (SELECT p FROM pos)
                       AND p2 IN (SELECT p FROM pos)) AS maybe FROM pr),
    t AS (SELECT DISTINCT o_custkey AS key FROM orders)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probe,
           CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe,
           CAST(SUM(CASE WHEN t.key IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_member,
           CAST(SUM(CASE WHEN maybe AND t.key IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_false_pos,
           ROUND(SUM(CASE WHEN maybe AND t.key IS NULL THEN 1 ELSE 0 END) * 1.0
                 / NULLIF(SUM(CASE WHEN t.key IS NULL THEN 1 ELSE 0 END), 0), 9)
             AS fp_rate_r
    FROM m LEFT JOIN t USING (key)
    """,
)
def x129_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom probe of every customer against the set that placed orders;
    no false negatives by construction, FP rate measured against truth."""
    from dbms_data_anonymity_differential_privacy_spark.operators.sketch import bloom_membership

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    res = bloom_membership(o, "o_custkey", c, "c_custkey", m=8192)
    truth = o.select(F.col("o_custkey").alias("key")).distinct().withColumn(
        "__t", F.lit(1)
    )
    probed = res.join(F.broadcast(truth), on="key", how="left")
    fp = F.col("maybe_present") & F.col("__t").isNull()
    return probed.agg(
        F.count(F.lit(1)).cast("long").alias("n_probe"),
        F.sum(F.col("maybe_present").cast("int")).cast("long").alias("n_maybe"),
        F.sum(F.col("__t").isNotNull().cast("int")).cast("long").alias("n_member"),
        F.sum(fp.cast("int")).cast("long").alias("n_false_pos"),
        F.round(
            F.sum(fp.cast("int"))
            / F.nullif(F.sum(F.col("__t").isNull().cast("int")), F.lit(0)),
            9,
        ).alias("fp_rate_r"),
    )


# --------------------------------------------------------------------------
# X131 — directional containment pairs (operators/dedup.py
# containment_pairs): |A∩B|/|A| catches short-doc-inside-long-doc
# inclusion that Jaccard structurally misses. Same inverted-index shape
# as the x03 twin, plus both directional scores.
# --------------------------------------------------------------------------
@query(
    "x131_containment",
    """
    WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
               FROM documents),
    sh AS (SELECT doc_id, list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 2, 0)),
           i -> array_to_string(toks[i:i+2], ' '))) AS s FROM t),
    e AS (SELECT doc_id, len(s) AS ns, unnest(s) AS shingle FROM sh),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(a.ns AS BIGINT) AS na, CAST(b.ns AS BIGINT) AS nb,
                 CAST(COUNT(*) AS BIGINT) AS inter
          FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4)
    SELECT id_a, id_b, inter, na, nb,
           ROUND(inter * 1.0 / na, 9) AS cont_a_r,
           ROUND(inter * 1.0 / nb, 9) AS cont_b_r
    FROM p
    WHERE GREATEST(ROUND(inter * 1.0 / na, 9), ROUND(inter * 1.0 / nb, 9)) >= 0.5
    """,
)
def x131_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs where either doc's 3-gram set is >= 50% contained in the
    other's."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    return containment_pairs(docs, threshold=0.5, n=3)


# --------------------------------------------------------------------------
# X132 — deterministic negative sampling (operators/sampling.py
# negative_samples): hash-generated non-interacted items per user, the
# implicit-feedback training-pair generator. All-integer, salt-free.
# --------------------------------------------------------------------------
@query(
    "x132_negative_samples",
    """
    WITH u AS (SELECT DISTINCT o_custkey AS usr FROM orders),
    n AS (SELECT COUNT(*) AS np FROM part),
    j AS (SELECT usr, unnest(generate_series(1, 20)) AS jj FROM u),
    c AS (SELECT usr, jj,
                 -- usr reduced mod np BEFORE the multiply: identical
                 -- value (modular arithmetic) and no int64 overflow at
                 -- billion-scale surrogate ids (r6 Bloom-hash lesson)
                 1 + (((usr % np) * 982451653 + jj * 179424673) % np) AS item
          FROM j CROSS JOIN n),
    ex AS (SELECT c.usr, c.jj, c.item FROM c JOIN part p ON p.p_partkey = c.item),
    pos AS (SELECT DISTINCT o.o_custkey AS usr, l.l_partkey AS item
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    neg AS (SELECT usr, item, MIN(jj) AS jj FROM ex
            WHERE NOT EXISTS (SELECT 1 FROM pos
                              WHERE pos.usr = ex.usr AND pos.item = ex.item)
            GROUP BY 1, 2),
    r AS (SELECT usr, item,
                 CAST(ROW_NUMBER() OVER (PARTITION BY usr ORDER BY jj, item)
                      AS INT) AS rnk
          FROM neg)
    SELECT usr AS o_custkey, item AS l_partkey, rnk FROM r WHERE rnk <= 5
    """,
)
def x132_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5 deterministic negative parts per ordering customer."""
    from dbms_data_anonymity_differential_privacy_spark.operators.sampling import negative_samples

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    pos = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        "o_custkey", "l_partkey"
    )
    return negative_samples(
        pos, "o_custkey", "l_partkey", p, "p_partkey", k=5, oversample=4
    )


# --------------------------------------------------------------------------
# X133 — hard-negative mining (operators/similarity.py hard_negatives):
# nearest different-label neighbors per query vector; knn_join's plan
# with a label knock-out before ranking. Oracle = x81's literal cosine
# with the label filter.
# --------------------------------------------------------------------------
@query(
    "x133_hard_negatives",
    f"""
    WITH q AS (SELECT vec_id AS id_q, embedding AS qv, label AS ql
               FROM embeddings WHERE vec_id % 100 = 0),
    p AS (SELECT q.id_q, e.vec_id AS id_c,
                 ROUND({_duck_cos('e.embedding', 'q.qv')}, 6) AS cos
          FROM embeddings e CROSS JOIN q
          WHERE e.label IS DISTINCT FROM q.ql),
    r AS (SELECT id_q, id_c, cos,
                 CAST(ROW_NUMBER() OVER (PARTITION BY id_q
                      ORDER BY cos DESC NULLS LAST, id_c) AS INTEGER) AS rnk
          FROM p)
    SELECT id_q, id_c, cos, rnk FROM r WHERE rnk <= 5
    """,
)
def x133_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every 100th vector's 5 nearest neighbors with a different label."""
    from dbms_data_anonymity_differential_privacy_spark.operators.similarity import hard_negatives

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 100 == 0)
    return hard_negatives(emb, q, k=5)


# --------------------------------------------------------------------------
# X134 — Nelson–Aalen cumulative hazard (operators/stats.py
# nelson_aalen): KM's at-risk machinery with an additive hazard cumsum;
# window order fixes float addition order on both engines.
# --------------------------------------------------------------------------
@query(
    "x134_nelson_aalen",
    """
    WITH pu AS (SELECT user_id,
                       MIN(date_diff('second', TIMESTAMP '1970-01-01', ts)) AS s0,
                       MAX(date_diff('second', TIMESTAMP '1970-01-01', ts)) AS s1,
                       MIN(CASE WHEN event_type = 'purchase'
                                THEN date_diff('second', TIMESTAMP '1970-01-01', ts)
                           END) AS sc
                FROM events GROUP BY 1),
    d AS (SELECT COALESCE(sc - s0, s1 - s0) AS t,
                 CASE WHEN sc IS NOT NULL THEN 1 ELSE 0 END AS ev FROM pu),
    g AS (SELECT t, SUM(ev) AS d, COUNT(*) AS obs FROM d GROUP BY 1),
    s AS (SELECT *, SUM(obs) OVER ()
                    - COALESCE(SUM(obs) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
                                              PRECEDING AND 1 PRECEDING), 0) AS n_risk
          FROM g),
    c AS (SELECT *, SUM(CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE))
                    OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cumhaz
          FROM s)
    SELECT t, CAST(n_risk AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS d_events,
           ROUND(cumhaz, 9) AS cumhaz_r
    FROM c WHERE d > 0
    """,
)
def x134_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative hazard of time-to-purchase with right censoring."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import (
        nelson_aalen,
        time_to_event,
    )

    ev = load_table(spark, sf_dir, "events")
    return nelson_aalen(time_to_event(ev, "purchase"))


# --------------------------------------------------------------------------
# X135 — CUPED variance reduction (operators/stats.py cuped_adjust):
# pre-period covariate, pooled theta, adjusted arm difference — one
# user-keyed collapse, moments over the slim per-user relation.
# --------------------------------------------------------------------------
@query(
    "x135_cuped",
    """
    WITH pu AS (SELECT user_id AS u,
          COALESCE(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                            THEN value END), 0.0) AS x,
          COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                            THEN value END), 0.0) AS y
        FROM events GROUP BY 1),
    a AS (SELECT *, CAST(u % 2 AS INT) AS arm FROM pu),
    m AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
                 SUM(x*x) AS sxx, SUM(y*y) AS syy,
                 SUM(CASE WHEN arm = 1 THEN y END) AS sy1,
                 SUM(CASE WHEN arm = 0 THEN y END) AS sy0,
                 SUM(CASE WHEN arm = 1 THEN x END) AS sx1,
                 SUM(CASE WHEN arm = 0 THEN x END) AS sx0,
                 SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1,
                 SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0
          FROM a),
    f AS (SELECT *, CAST(n AS DOUBLE) AS nd FROM m),
    g AS (SELECT *,
                 (sxy / nd - (sx / nd) * (sy / nd))
                   / (sxx / nd - (sx / nd) * (sx / nd)) AS theta,
                 sy1 / n1 - sy0 / n0 AS raw_diff
          FROM f)
    SELECT CAST(n AS BIGINT) AS n_users,
           ROUND(theta, 9) AS theta_r,
           ROUND(raw_diff, 9) AS raw_diff_r,
           ROUND(raw_diff - theta * (sx1 / n1 - sx0 / n0), 9) AS adj_diff_r,
           ROUND((theta * theta * (sxx / nd - (sx / nd) * (sx / nd)))
                 / (syy / nd - (sy / nd) * (sy / nd)), 9) AS var_reduction_r
    FROM g
    """,
)
def x135_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED readout: January split mid-month, arms = user_id % 2."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import cuped_adjust

    ev = load_table(spark, sf_dir, "events")
    return cuped_adjust(ev, "2024-01-16 00:00:00")


# --------------------------------------------------------------------------
# X136 — decile lift / gains table (operators/stats.py decile_lift).
# --------------------------------------------------------------------------
@query(
    "x136_decile_lift",
    """
    WITH pu AS (SELECT user_id AS u,
          COALESCE(SUM(CASE WHEN event_type = 'click' THEN value END), 0.0)
            AS score,
          MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        FROM events GROUP BY 1),
    t AS (SELECT *, NTILE(10) OVER (ORDER BY score DESC, u) AS decile FROM pu),
    d AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_users,
                 CAST(SUM(conv) AS BIGINT) AS n_converted
          FROM t GROUP BY 1),
    tot AS (SELECT CAST(SUM(conv) AS BIGINT) AS tc,
                   CAST(COUNT(*) AS BIGINT) AS tn FROM t)
    SELECT CAST(decile AS INT) AS decile, n_users, n_converted,
           ROUND(n_converted * 1.0 / n_users, 9) AS conv_rate_r,
           ROUND((n_converted * 1.0 / n_users) / (tc * 1.0 / tn), 9) AS lift_r
    FROM d CROSS JOIN tot
    """,
)
def x136_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click-score deciles vs purchase conversion."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import decile_lift

    ev = load_table(spark, sf_dir, "events")
    return decile_lift(ev)


# --------------------------------------------------------------------------
# X138 — triangle census (operators/graph.py triangle_count) over the
# co-purchase graph (pairs with support >= 2): Suri–Vassilvitskii degree
# orientation bounds wedge fan-out by the oriented out-degree. Oracle =
# canonical a<b<c three-way self-join (orientation-invariant count).
# --------------------------------------------------------------------------
@query(
    "x138_triangles",
    """
    WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
    pr AS (SELECT a.i AS x, b.i AS y FROM items a
           JOIN items b ON a.b = b.b AND a.i < b.i
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS d
            FROM (SELECT x AS v FROM pr UNION ALL SELECT y AS v FROM pr)
            GROUP BY 1),
    tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS t
            FROM pr e1 JOIN pr e2 ON e2.x = e1.x AND e2.y > e1.y
            JOIN pr e3 ON e3.x = e1.y AND e3.y = e2.y)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pr) AS n_edges,
           tri.t AS n_triangles,
           (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_triples,
           ROUND(CASE WHEN (SELECT SUM(d * (d - 1) // 2) FROM deg) > 0
                      THEN 3.0 * tri.t
                           / (SELECT SUM(d * (d - 1) // 2) FROM deg)
                      ELSE 0.0 END, 9) AS clustering_coeff_r
    FROM tri
    """,
)
def x138_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering of the co-purchase graph."""
    from dbms_data_anonymity_differential_privacy_spark.operators.graph import triangle_count

    # shared basket edge builder (identical edge set to the items
    # self-join form it replaced; see _copurchase_part_edges, r10)
    edges = _copurchase_part_edges(spark, sf_dir)
    return triangle_count(edges)


# --------------------------------------------------------------------------
# X140 — retrieval-quality scorecard (operators/embeddings.py
# retrieval_eval): NDCG@k / MRR / recall@k of cosine k-NN with same-label
# ground truth. X81 composition + the driver-libm integer weight table
# (ndcg_weights) shared verbatim with the oracle, so DCG sums are exact
# int64 and every released double is one IEEE division.
# --------------------------------------------------------------------------
def _x140_sql(k: int = 10) -> str:
    from dbms_data_anonymity_differential_privacy_spark.operators.embeddings import ndcg_weights

    wvals = ", ".join(f"({r}, {w}, {cw})" for r, w, cw in ndcg_weights(k))
    return f"""
    WITH wt(rnk, w, cumw) AS (VALUES {wvals}),
    q AS (SELECT vec_id AS id_q, embedding AS qv, label AS lq
          FROM embeddings WHERE vec_id % 100 = 0),
    p AS (SELECT q.id_q, q.lq, e.vec_id AS id_c, e.label AS lc,
                 ROUND({_duck_cos('e.embedding', 'q.qv')}, 6) AS cos
          FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.id_q),
    r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY id_q
                         ORDER BY cos DESC NULLS LAST, id_c) AS INTEGER) AS rnk2
          FROM p),
    nn AS (SELECT *, CASE WHEN lc = lq THEN 1 ELSE 0 END AS rel
           FROM r WHERE rnk2 <= {k}),
    pq AS (SELECT id_q, lq, SUM(rel) AS hits,
                  SUM(wt.w * rel) AS dcg_int,
                  MIN(CASE WHEN rel = 1 THEN rnk2 END) AS first_rel
           FROM nn JOIN wt ON wt.rnk = nn.rnk2
           GROUP BY 1, 2),
    lc AS (SELECT label AS lq, COUNT(*) AS lab_n FROM embeddings GROUP BY 1),
    s AS (SELECT pq.*, lc.lab_n - 1 AS n_rel,
                 LEAST({k}, lc.lab_n - 1) AS ideal_k
          FROM pq JOIN lc USING (lq))
    SELECT s.id_q AS vec_id, s.lq AS label,
           CAST(s.n_rel AS BIGINT) AS n_rel,
           CAST(s.hits AS BIGINT) AS hits,
           ROUND(CASE WHEN s.ideal_k > 0
                      THEN s.hits / CAST(s.ideal_k AS DOUBLE) END, 9) AS recall_k,
           ROUND(COALESCE(1.0 / CAST(s.first_rel AS DOUBLE), 0.0), 9) AS mrr,
           ROUND(CASE WHEN iw.cumw IS NOT NULL
                      THEN CAST(s.dcg_int AS DOUBLE) / CAST(iw.cumw AS DOUBLE)
                 END, 9) AS ndcg
    FROM s LEFT JOIN wt iw ON iw.rnk = s.ideal_k
    """


@query("x140_retrieval_eval", None)
def x140_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 / MRR / recall@10 scorecard for every 100th vector."""
    from dbms_data_anonymity_differential_privacy_spark.operators.embeddings import (
        retrieval_eval,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 100 == 0)
    return retrieval_eval(emb, q, k=10, impl="sql")


ORACLE_SQL["x140_retrieval_eval"] = _x140_sql(10)


# --------------------------------------------------------------------------
# X148 — Benjamini-Hochberg FDR over the per-metric A/B family
# (operators/stats.py bh_fdr_ab_family): one z-test per public event
# type, BH step-up run in |z| space against the driver-built critical-z
# ladder (bh_critical_z — stdlib inverse normal CDF, shared literals),
# so no engine evaluates erf. One per-user pass builds every flag.
# --------------------------------------------------------------------------
_BH_TYPES = ["click", "error", "purchase", "signup", "view"]


def _x148_sql(q: float = 0.05) -> str:
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import bh_critical_z

    m = len(_BH_TYPES)
    crit_vals = ", ".join(f"({i}, {c!r})" for i, c in bh_critical_z(m, q))
    flag_cols = ",\n                      ".join(
        f"MAX(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS f{i}"
        for i, t in enumerate(_BH_TYPES)
    )
    conv_cols = ",\n                 ".join(
        f"CAST(SUM(a * f{i}) AS BIGINT) AS ca{i}, "
        f"CAST(SUM((1 - a) * f{i}) AS BIGINT) AS cb{i}"
        for i in range(m)
    )
    branches = "\n           UNION ALL ".join(
        f"SELECT n_a, n_b, '{t}' AS metric, ca{i} AS conv_a, cb{i} AS conv_b FROM w"
        for i, t in enumerate(_BH_TYPES)
    )
    return f"""
    WITH u AS (SELECT user_id,
                      {flag_cols}
               FROM events GROUP BY 1),
    t AS (SELECT *, CASE WHEN substr(md5(cast(user_id AS varchar) || '|ab'), 1, 8)
                              < '80000000' THEN 1 ELSE 0 END AS a FROM u),
    w AS (SELECT CAST(SUM(a) AS BIGINT) AS n_a,
                 CAST(COUNT(*) - SUM(a) AS BIGINT) AS n_b,
                 {conv_cols}
          FROM t),
    pm AS ({branches}),
    sc AS (SELECT metric, conv_a, conv_b, n_a, n_b,
                  CAST(conv_a AS DOUBLE) / n_a AS pa,
                  CAST(conv_b AS DOUBLE) / n_b AS pb,
                  CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) AS pool
           FROM pm),
    s2 AS (SELECT *, SQRT(pool * (1.0 - pool) * (1.0 / n_a + 1.0 / n_b)) AS se
           FROM sc),
    z AS (SELECT metric, conv_a, conv_b,
                 ROUND(CASE WHEN se > 0 THEN (pa - pb) / se END, 9) AS z_r
          FROM s2),
    rk AS (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY ABS(z_r) DESC NULLS LAST,
                                             metric) AS INT) AS bh_rank
           FROM z),
    cr(bh_rank, crit) AS (VALUES {crit_vals}),
    j AS (SELECT rk.*, cr.crit FROM rk JOIN cr USING (bh_rank)),
    kk AS (SELECT MAX(CASE WHEN z_r IS NOT NULL AND ABS(z_r) >= crit
                           THEN bh_rank ELSE 0 END) AS k FROM j)
    SELECT metric, conv_a, conv_b, z_r, bh_rank,
           ROUND(crit, 9) AS crit_r, bh_rank <= k AS rejected
    FROM j CROSS JOIN kk
    """


@query("x148_bh_fdr", None)
def x148_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BH-FDR verdicts for the five per-event-type A/B incidence tests."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import bh_fdr_ab_family

    ev = load_table(spark, sf_dir, "events")
    return bh_fdr_ab_family(ev, _BH_TYPES, q=0.05)


ORACLE_SQL["x148_bh_fdr"] = _x148_sql(0.05)


# --------------------------------------------------------------------------
# X149 — k-core decomposition (operators/graph.py kcore): fixed-round
# peel over the x138 co-purchase graph; each round one degree agg + two
# semi-joins on the shrinking edge relation. Oracle replays the same
# rounds as chained CTEs (x126 fixed-iteration precedent).
# --------------------------------------------------------------------------
def _x149_sql(k: int, rounds: int) -> str:
    cte = [
        """e0 AS MATERIALIZED (SELECT a.i AS x, b.i AS y
           FROM (SELECT DISTINCT l_orderkey AS bsk, l_partkey AS i FROM lineitem) a
           JOIN (SELECT DISTINCT l_orderkey AS bsk, l_partkey AS i FROM lineitem) b
             ON a.bsk = b.bsk AND a.i < b.i
           GROUP BY 1, 2 HAVING COUNT(*) >= 2)"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        cte.append(
            f"""d{r} AS MATERIALIZED (SELECT v, COUNT(*) AS d FROM
             (SELECT x AS v FROM e{p} UNION ALL SELECT y AS v FROM e{p})
             GROUP BY 1),
    s{r} AS MATERIALIZED (SELECT v FROM d{r} WHERE d >= {k}),
    e{r} AS MATERIALIZED (SELECT e{p}.x, e{p}.y FROM e{p}
             JOIN s{r} sa ON sa.v = e{p}.x
             JOIN s{r} sb ON sb.v = e{p}.y)"""
        )
    body = ",\n    ".join(cte)
    return f"""
    WITH {body}
    SELECT v AS node, CAST(COUNT(*) AS BIGINT) AS degree FROM
      (SELECT x AS v FROM e{rounds} UNION ALL SELECT y AS v FROM e{rounds})
    GROUP BY 1
    """


@query("x149_kcore", None)
def x149_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the co-purchase item graph, 6 peel rounds."""
    from dbms_data_anonymity_differential_privacy_spark.operators.graph import kcore

    # shared basket edge builder (identical edge set; r10 — see
    # _copurchase_part_edges), renamed to this family's (x, y) columns
    edges = _copurchase_part_edges(spark, sf_dir).selectExpr(
        "src AS x", "dst AS y"
    )
    return kcore(edges, k=3, rounds=6)


ORACLE_SQL["x149_kcore"] = _x149_sql(3, 6)


# --------------------------------------------------------------------------
# X150 — Wilcoxon signed-rank (operators/stats.py wilcoxon_signed_rank):
# paired pre/post shift test on per-user value sums (x135's split date);
# doubled tie-averaged ranks over the distinct-|d| relation, exact
# DECIMAL/HUGEINT sufficient statistics, fixed z expression.
# --------------------------------------------------------------------------
@query(
    "x150_wilcoxon",
    """
    WITH pu AS (SELECT user_id,
          COALESCE(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                            THEN value END), 0.0) AS x,
          COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                            THEN value END), 0.0) AS y
        FROM events GROUP BY 1),
    np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM pu),
    d AS (SELECT ABS(y - x) AS ad,
                 CASE WHEN y - x > 0 THEN 1 ELSE 0 END AS pos
          FROM pu WHERE y - x <> 0),
    pv AS (SELECT ad, COUNT(*) AS cnt, SUM(pos) AS pos FROM d GROUP BY 1),
    r AS (SELECT *, COALESCE(SUM(cnt) OVER (ORDER BY ad ROWS BETWEEN UNBOUNDED
                             PRECEDING AND 1 PRECEDING), 0) AS cumb
          FROM pv),
    s AS (SELECT CAST(COALESCE(SUM(cnt), 0) AS HUGEINT) AS n,
                 CAST(COALESCE(SUM(pos * (2 * cumb + cnt + 1)), 0) AS HUGEINT) AS w2,
                 CAST(COALESCE(SUM(cnt * cnt * cnt - cnt), 0) AS HUGEINT) AS tie3
          FROM r)
    SELECT np.n_pairs,
           CAST(s.n AS BIGINT) AS n_nonzero,
           CAST(s.w2 AS BIGINT) AS w2_plus,
           ROUND(CASE WHEN 2 * n * (n + 1) * (2 * n + 1) - tie3 > 0 THEN
                   CAST(2 * w2 - n * (n + 1) AS DOUBLE)
                   / sqrt(CAST(2 * n * (n + 1) * (2 * n + 1) - tie3 AS DOUBLE)
                          / 3.0) END, 9) AS z_r
    FROM s CROSS JOIN np
    """,
)
def x150_wilcoxon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired pre/post per-user value shift, Wilcoxon signed-rank z."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import wilcoxon_signed_rank

    ev = load_table(spark, sf_dir, "events")
    pre = F.coalesce(
        F.sum(
            F.when(F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp"),
                   F.col("value"))
        ),
        F.lit(0.0),
    )
    post = F.coalesce(
        F.sum(
            F.when(F.col("ts") >= F.lit("2024-01-16 00:00:00").cast("timestamp"),
                   F.col("value"))
        ),
        F.lit(0.0),
    )
    pairs = ev.groupBy("user_id").agg(pre.alias("x"), post.alias("y"))
    return wilcoxon_signed_rank(pairs, "x", "y")


# --------------------------------------------------------------------------
# X151 — degree assortativity (operators/graph.py assortativity): Pearson
# correlation of endpoint degrees over the x138 co-purchase graph; exact
# DECIMAL/HUGEINT sufficient statistics over both directed orientations,
# one IEEE division.
# --------------------------------------------------------------------------
@query(
    "x151_assortativity",
    """
    WITH e AS MATERIALIZED (SELECT a.i AS x, b.i AS y
           FROM (SELECT DISTINCT l_orderkey AS bsk, l_partkey AS i FROM lineitem) a
           JOIN (SELECT DISTINCT l_orderkey AS bsk, l_partkey AS i FROM lineitem) b
             ON a.bsk = b.bsk AND a.i < b.i
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    deg AS MATERIALIZED (SELECT v, COUNT(*) AS d FROM
           (SELECT x AS v FROM e UNION ALL SELECT y AS v FROM e) GROUP BY 1),
    jk AS (SELECT dx.d AS j, dy.d AS k
           FROM e JOIN deg dx ON dx.v = e.x JOIN deg dy ON dy.v = e.y),
    pr AS (SELECT j, k FROM jk UNION ALL SELECT k AS j, j AS k FROM jk),
    s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS p, CAST(SUM(j) AS HUGEINT) AS sj,
                 CAST(SUM(j * j) AS HUGEINT) AS q, CAST(SUM(j * k) AS HUGEINT) AS c
          FROM pr)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
           ROUND(CASE WHEN p * q - sj * sj > 0 THEN
                   CAST(p * c - sj * sj AS DOUBLE)
                   / CAST(p * q - sj * sj AS DOUBLE) END, 9) AS r_assort
    FROM s
    """,
)
def x151_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase item graph."""
    from dbms_data_anonymity_differential_privacy_spark.operators.graph import assortativity
    from dbms_data_anonymity_differential_privacy_spark.operators.util import track_cached

    # shared basket edge builder (identical edge set; r10 — see
    # _copurchase_part_edges), renamed to this family's (x, y) columns
    edges = track_cached(
        _copurchase_part_edges(spark, sf_dir)
        .selectExpr("src AS x", "dst AS y")
        .persist()
    )
    return assortativity(edges)


# --------------------------------------------------------------------------
# X152 — power-law degree exponent (operators/graph.py powerlaw_alpha):
# CSN discrete MLE over the co-purchase degree distribution; driver-libm
# ln table over distinct degrees, sorted-fold tail sum, fixed two-op
# release.
# --------------------------------------------------------------------------
@query(
    "x152_powerlaw",
    """
    WITH e AS MATERIALIZED (SELECT a.i AS x, b.i AS y
           FROM (SELECT DISTINCT l_orderkey AS bsk, l_partkey AS i FROM lineitem) a
           JOIN (SELECT DISTINCT l_orderkey AS bsk, l_partkey AS i FROM lineitem) b
             ON a.bsk = b.bsk AND a.i < b.i
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    deg AS (SELECT v, COUNT(*) AS d FROM
            (SELECT x AS v FROM e UNION ALL SELECT y AS v FROM e) GROUP BY 1),
    pd AS (SELECT d, COUNT(*) AS cnt FROM deg WHERE d >= 2 GROUP BY 1),
    t AS (SELECT CAST(cnt AS DOUBLE) * ln(CAST(d AS DOUBLE) / CAST(1.5 AS DOUBLE)) AS t, cnt
          FROM pd),
    s AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_tail,
                 list_reduce(list_sort(list(t)), (a, b) -> a + b) AS lsum
          FROM t)
    SELECT n_tail, CAST(2 AS INT) AS d_min,
           ROUND(CASE WHEN lsum > 0
                      THEN CAST(1.0 AS DOUBLE) + CAST(n_tail AS DOUBLE) / lsum END, 9) AS alpha_r
    FROM s
    """,
)
def x152_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSN power-law exponent of the co-purchase degree tail, d_min=2."""
    from dbms_data_anonymity_differential_privacy_spark.operators.graph import powerlaw_alpha

    # shared basket edge builder (identical edge set; r10 — see
    # _copurchase_part_edges), renamed to this family's (x, y) columns
    edges = _copurchase_part_edges(spark, sf_dir).selectExpr(
        "src AS x", "dst AS y"
    )
    return powerlaw_alpha(edges, d_min=2)


# --------------------------------------------------------------------------
# X142 — autocorrelation function (operators/stats.py acf): exact ACF of
# the hourly rate series on a dense spine; n²-cleared estimator in
# DECIMAL(38,0)/HUGEINT, one IEEE division per lag. Everything after the
# single fact aggregation runs on the buckets-sized relation.
# --------------------------------------------------------------------------
@query(
    "x142_acf",
    """
    WITH e AS (SELECT date_diff('second', TIMESTAMP '1970-01-01', ts) // 3600 AS t
               FROM events),
    cnt AS (SELECT t, COUNT(*) AS c FROM e GROUP BY 1),
    b AS (SELECT MIN(t) AS lo, MAX(t) AS hi FROM cnt),
    sp AS (SELECT unnest(generate_series(lo, hi)) AS t FROM b),
    d AS (SELECT sp.t, COALESCE(cnt.c, 0) AS c FROM sp LEFT JOIN cnt USING (t)),
    tot AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(c) AS HUGEINT) AS S,
                   CAST(SUM(c*c) AS HUGEINT) AS Q
            FROM d),
    lg AS (SELECT unnest(generate_series(1, 24)) AS lag),
    p AS (SELECT lg.lag AS lag, COUNT(*) AS n_pairs,
                 CAST(SUM(d1.c * d2.c) AS HUGEINT) AS pk,
                 CAST(SUM(d1.c) AS HUGEINT) AS ak,
                 CAST(SUM(d2.c) AS HUGEINT) AS bk
          FROM lg CROSS JOIN d d1 JOIN d d2 ON d2.t = d1.t - lg.lag
          GROUP BY 1)
    SELECT CAST(p.lag AS INTEGER) AS lag, CAST(n_pairs AS BIGINT) AS n_pairs,
           ROUND(CASE WHEN (n*n*Q - n*S*S) > 0 THEN
                   CAST(n*n*pk - n*S*(ak+bk) + (n - p.lag)*S*S AS DOUBLE)
                   / CAST(n*n*Q - n*S*S AS DOUBLE) END, 9) AS acf_r
    FROM p CROSS JOIN tot
    """,
)
def x142_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF of the hourly event rate at lags 1..24."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import acf

    ev = load_table(spark, sf_dir, "events")
    return acf(ev, max_lag=24)


# --------------------------------------------------------------------------
# X143 — Mann-Kendall trend + Sen's slope (operators/stats.py
# mann_kendall): nonparametric drift test on the daily rate series; all
# pairwise statistics on the buckets relation, exact-integer S and
# tie-corrected 18·Var(S), exact pairwise-slope median.
# --------------------------------------------------------------------------
@query(
    "x143_mann_kendall",
    """
    WITH e AS (SELECT date_diff('second', TIMESTAMP '1970-01-01', ts) // 86400 AS t
               FROM events),
    cnt AS (SELECT t, COUNT(*) AS c FROM e GROUP BY 1),
    b AS (SELECT MIN(t) AS lo, MAX(t) AS hi FROM cnt),
    sp AS (SELECT unnest(generate_series(lo, hi)) AS t FROM b),
    d AS (SELECT sp.t, COALESCE(cnt.c, 0) AS c FROM sp LEFT JOIN cnt USING (t)),
    pr AS (SELECT CAST(SIGN(d2.c - d1.c) AS BIGINT) AS sgn,
                  CAST(d2.c - d1.c AS DOUBLE) / CAST(d2.t - d1.t AS DOUBLE) AS slope
           FROM d d1 JOIN d d2 ON d2.t > d1.t),
    rk AS (SELECT slope, ROW_NUMBER() OVER (ORDER BY slope) AS rk FROM pr),
    m AS (SELECT COUNT(*) AS m FROM pr),
    med AS (SELECT SUM(slope) / COUNT(*) AS sen FROM rk CROSS JOIN m
            WHERE rk = (m + 1) // 2 OR rk = m // 2 + 1),
    st AS (SELECT CAST(SUM(sgn) AS BIGINT) AS s_stat,
                  CAST(COUNT(*) AS BIGINT) AS n_pairs FROM pr),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
    ti AS (SELECT CAST(COALESCE(SUM(tg*(tg-1)*(2*tg+5)), 0) AS BIGINT) AS tie_term
           FROM (SELECT COUNT(*) AS tg FROM d GROUP BY c) WHERE tg > 1),
    v AS (SELECT n*(n-1)*(2*n+5) - tie_term AS var18 FROM nn CROSS JOIN ti),
    z AS (SELECT ROUND(CASE WHEN v.var18 <= 0 THEN NULL
                   WHEN st.s_stat > 0 THEN CAST(st.s_stat - 1 AS DOUBLE)
                        / sqrt(CAST(v.var18 AS DOUBLE) / 18.0)
                   WHEN st.s_stat < 0 THEN CAST(st.s_stat + 1 AS DOUBLE)
                        / sqrt(CAST(v.var18 AS DOUBLE) / 18.0)
                   ELSE 0.0 END, 9) AS z_r
          FROM st CROSS JOIN v)
    SELECT nn.n AS n_periods, st.n_pairs, st.s_stat,
           CAST(v.var18 AS BIGINT) AS var18, z.z_r,
           ROUND(med.sen, 9) AS sen_slope_r,
           CASE WHEN z.z_r IS NULL THEN 'no_trend'
                WHEN z.z_r >= 1.96 THEN 'increasing'
                WHEN z.z_r <= -1.96 THEN 'decreasing'
                ELSE 'no_trend' END AS trend
    FROM nn CROSS JOIN st CROSS JOIN v CROSS JOIN med CROSS JOIN z
    """,
)
def x143_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend verdict + Sen's slope on the daily rate."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import mann_kendall

    ev = load_table(spark, sf_dir, "events")
    return mann_kendall(ev)


# --------------------------------------------------------------------------
# X144 — smoothed target encoding (operators/features.py target_encode):
# Micci-Barreca shrunk category rates; inner division cleared by N so
# numerator/denominator are exact DECIMAL/HUGEINT integers and each
# category releases ONE IEEE division. One fact groupBy, scalars ride a
# broadcast cross join.
# --------------------------------------------------------------------------
@query(
    "x144_target_encode",
    """
    WITH pc AS (SELECT o_orderpriority, COUNT(*) AS n,
                       SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS hits
                FROM orders GROUP BY 1),
    tot AS (SELECT CAST(COUNT(*) AS HUGEINT) AS nn,
                   CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                        AS HUGEINT) AS hh
            FROM orders)
    SELECT o_orderpriority, CAST(pc.n AS BIGINT) AS n,
           CAST(pc.hits AS BIGINT) AS hits,
           ROUND(CASE WHEN (CAST(pc.n AS HUGEINT) + 20) * nn > 0 THEN
                   CAST(CAST(pc.hits AS HUGEINT) * nn + 20 * hh AS DOUBLE)
                   / CAST((CAST(pc.n AS HUGEINT) + 20) * nn AS DOUBLE) END, 9) AS enc_r
    FROM pc CROSS JOIN tot
    """,
)
def x144_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed 'order fully shipped' rate per priority class, m=20."""
    from dbms_data_anonymity_differential_privacy_spark.operators.features import target_encode

    o = load_table(spark, sf_dir, "orders")
    return target_encode(
        o, "o_orderpriority", (F.col("o_orderstatus") == "F").cast("int"), m=20
    )


# --------------------------------------------------------------------------
# X145 — Jensen-Shannon divergence between sources (operators/text.py
# jsd_divergence): bounded symmetric corpus-drift distance over the
# shared top-k vocabulary + OTHER bucket. ln args are ratios of exact
# int64 cross-products evaluated by libm (driver math.log on the Spark
# side, DuckDB ln here — the same C library); sorted-fold term sums.
# --------------------------------------------------------------------------
@query(
    "x145_jsd_sources",
    """
    WITH two AS (SELECT source AS s,
                        list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                    w -> w <> '') AS toks
                 FROM documents WHERE source IN ('src0', 'src1')),
    tk AS (SELECT s, unnest(toks) AS tok FROM two),
    wc AS (SELECT tok,
                  SUM(CASE WHEN s = 'src0' THEN 1 ELSE 0 END) AS a,
                  SUM(CASE WHEN s = 'src1' THEN 1 ELSE 0 END) AS b
           FROM tk GROUP BY 1),
    vocab AS (SELECT tok, a, b FROM wc ORDER BY (a + b) DESC, tok LIMIT 300),
    tot AS (SELECT CAST(SUM(a) AS BIGINT) AS ta, CAST(SUM(b) AS BIGINT) AS tb
            FROM wc),
    vs AS (SELECT CAST(COALESCE(SUM(a), 0) AS BIGINT) AS va,
                  CAST(COALESCE(SUM(b), 0) AS BIGINT) AS vb FROM vocab),
    vec AS (SELECT tok, CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b FROM vocab
            UNION ALL
            SELECT ' <other>', tot.ta - vs.va, tot.tb - vs.vb
            FROM tot CROSS JOIN vs),
    t2 AS (SELECT vec.a, vec.b, vec.a * tot.tb AS u, vec.b * tot.ta AS v,
                  tot.ta, tot.tb
           FROM vec CROSS JOIN tot),
    terms AS (SELECT
        CASE WHEN u > 0 THEN (CAST(a AS DOUBLE) / CAST(ta AS DOUBLE))
                             * ln(CAST(2.0 AS DOUBLE) * u / (u + v))
             ELSE 0.0 END AS pt,
        CASE WHEN v > 0 THEN (CAST(b AS DOUBLE) / CAST(tb AS DOUBLE))
                             * ln(CAST(2.0 AS DOUBLE) * v / (u + v))
             ELSE 0.0 END AS qt
        FROM t2),
    st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  list_reduce(list_sort(list(pt)), (x, y) -> x + y) AS sp,
                  list_reduce(list_sort(list(qt)), (x, y) -> x + y) AS sq
           FROM terms)
    SELECT n AS n_terms, tot.ta AS a_total, tot.tb AS b_total,
           ROUND(CAST(0.5 AS DOUBLE) * (sp + sq), 9) AS jsd_r,
           ROUND(CAST(0.5 AS DOUBLE) * (sp + sq) / ln(CAST(2.0 AS DOUBLE)), 9)
             AS jsd_norm_r
    FROM st CROSS JOIN tot
    """,
)
def x145_jsd_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSD between src0 and src1 word distributions, top-300 vocab."""
    from dbms_data_anonymity_differential_privacy_spark.operators.text import jsd_divergence

    docs = load_table(spark, sf_dir, "documents")
    return jsd_divergence(docs, "src0", "src1", top_k=300)


# --------------------------------------------------------------------------
# X147 — exact ROC-AUC (operators/features.py roc_auc): rank-formulation
# AUC with x109-style doubled tie-averaged ranks — exact DECIMAL/HUGEINT
# sums over the distinct-score relation, one IEEE division at release.
# --------------------------------------------------------------------------
@query(
    "x147_roc_auc",
    """
    WITH pv AS (SELECT o_totalprice AS v, COUNT(*) AS cnt,
                       SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS pos
                FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1),
    r AS (SELECT *, COALESCE(SUM(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                             PRECEDING AND 1 PRECEDING), 0) AS cumb
          FROM pv),
    s AS (SELECT CAST(SUM(pos * (2 * cumb + cnt + 1)) AS HUGEINT) AS s2,
                 CAST(SUM(pos) AS HUGEINT) AS np,
                 CAST(SUM(cnt - pos) AS HUGEINT) AS nn
          FROM r)
    SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
           ROUND(CASE WHEN 2 * np * nn > 0 THEN
                   CAST(s2 - np * (np + 1) AS DOUBLE)
                   / CAST(2 * np * nn AS DOUBLE) END, 9) AS auc_r
    FROM s
    """,
)
def x147_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUC of order price as a predictor of 'fully shipped' status."""
    from dbms_data_anonymity_differential_privacy_spark.operators.features import roc_auc

    o = load_table(spark, sf_dir, "orders")
    return roc_auc(o, "o_totalprice", (F.col("o_orderstatus") == "F").cast("int"))


# --------------------------------------------------------------------------
# X123 — path trigrams (operators/stats.py path_trigrams): top-k
# three-step sequences off one user-keyed window pass; x72's pairwise
# matrix can't separate paths.
# --------------------------------------------------------------------------
@query(
    "x123_path_trigrams",
    """
    WITH t AS (SELECT lag(event_type, 2) OVER w AS t1,
                      lag(event_type, 1) OVER w AS t2,
                      event_type AS t3
               FROM events
               WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT t1, t2, t3, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM t WHERE t1 IS NOT NULL
    GROUP BY 1, 2, 3
    ORDER BY cnt DESC, t1, t2, t3 LIMIT 25
    """,
)
def x123_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 three-step user paths."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import path_trigrams

    ev = load_table(spark, sf_dir, "events")
    return path_trigrams(ev, k=25)


# --------------------------------------------------------------------------
# X122 — k-NN label consistency (operators/embeddings.py
# label_consistency): X81 composition — k+1 neighbors, self dropped,
# agreement over broadcast label relations. impl='sql' = oracle path.
# --------------------------------------------------------------------------
@query(
    "x122_label_consistency",
    None,  # SQL attached below — shares x81's cosine helper
)
def x122_label_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label-agreement for every 100th vector (label-noise screen)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.embeddings import (
        label_consistency,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 100 == 0)
    return label_consistency(emb, q, k=5, impl="sql")


ORACLE_SQL["x122_label_consistency"] = f"""
    WITH q AS (SELECT vec_id AS id_q, embedding AS qv
               FROM embeddings WHERE vec_id % 100 = 0),
    p AS (SELECT q.id_q, e.vec_id AS id_c,
                 ROUND({_duck_cos('e.embedding', 'q.qv')}, 6) AS cos
          FROM embeddings e CROSS JOIN q),
    r AS (SELECT id_q, id_c,
                 CAST(ROW_NUMBER() OVER (PARTITION BY id_q
                      ORDER BY cos DESC NULLS LAST, id_c) AS INTEGER) AS rnk
          FROM p),
    nn AS (SELECT id_q, id_c FROM r WHERE rnk <= 6 AND id_q <> id_c)
    SELECT nn.id_q AS vec_id, ql.label AS label,
           CAST(COUNT(*) AS BIGINT) AS n_neighbors,
           CAST(SUM(CASE WHEN cl.label = ql.label THEN 1 ELSE 0 END) AS BIGINT)
             AS n_agree,
           ROUND(SUM(CASE WHEN cl.label = ql.label THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 9) AS agreement_r
    FROM nn
    JOIN embeddings ql ON ql.vec_id = nn.id_q
    JOIN embeddings cl ON cl.vec_id = nn.id_c
    GROUP BY 1, 2
    """


# --------------------------------------------------------------------------
# X117 — OOV rate (operators/text.py oov_rate): per-doc coverage against
# the corpus's own top-k vocabulary (freq desc, token asc deterministic);
# word-count shuffle + broadcast vocab join.
# --------------------------------------------------------------------------
@query(
    "x117_oov_rate",
    """
    WITH e AS (SELECT doc_id,
                      unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
               FROM documents),
    ef AS (SELECT doc_id, tok FROM e WHERE tok <> ''),
    vocab AS (SELECT tok FROM (SELECT tok, COUNT(*) AS f FROM ef GROUP BY 1)
              ORDER BY f DESC, tok ASC LIMIT 20),
    scored AS (SELECT ef.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                      CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                        AS n_oov
               FROM ef LEFT JOIN vocab v USING (tok) GROUP BY 1)
    SELECT d.doc_id,
           COALESCE(s.n_tokens, 0) AS n_tokens,
           COALESCE(s.n_oov, 0) AS n_oov,
           ROUND(CASE WHEN COALESCE(s.n_tokens, 0) > 0
                      THEN COALESCE(s.n_oov, 0) / CAST(s.n_tokens AS DOUBLE)
                      ELSE 0.0 END, 9) AS oov_rate_r
    FROM documents d LEFT JOIN scored s USING (doc_id)
    """,
)
def x117_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document OOV rate against the corpus top-20 vocabulary (the
    synthetic corpus has ~31 distinct tokens, so k=20 leaves a real
    out-of-vocabulary tail for the rate to measure)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.text import oov_rate

    docs = load_table(spark, sf_dir, "documents")
    return oov_rate(docs, vocab_size=20)


# --------------------------------------------------------------------------
# X115 — weighted median (operators/metrics.py weighted_median): exact
# lower weighted median via integer 2·cumw >= W over the (group, value,
# weight) relation.
# --------------------------------------------------------------------------
@query(
    "x115_weighted_median",
    """
    WITH agg AS (SELECT l_returnflag, l_extendedprice AS v,
                        CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
                 FROM lineitem GROUP BY 1, 2),
    cum AS (SELECT l_returnflag, v,
                   CAST(SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw,
                   CAST(SUM(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS w_total
            FROM agg)
    SELECT l_returnflag, MAX(w_total) AS w_total, MIN(v) AS weighted_median
    FROM cum WHERE 2 * cw >= w_total GROUP BY l_returnflag
    """,
)
def x115_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median extended price per return flag."""
    from dbms_data_anonymity_differential_privacy_spark.operators.metrics import weighted_median

    li = load_table(spark, sf_dir, "lineitem")
    return weighted_median(li, ["l_returnflag"], "l_extendedprice", "l_quantity")


# --------------------------------------------------------------------------
# X114 — 2-D DP histogram (operators/dp.py dp_histogram_2d): joint
# heatmap over public per-axis grids, one epsilon for the whole grid
# (parallel composition). Exact pre-noise twin; noisy flavor rows-only.
# --------------------------------------------------------------------------
@query(
    "x114_dp_heatmap_exact",
    """
    WITH b AS (SELECT
                 CAST(LEAST(FLOOR((LEAST(GREATEST(value, 0.0), 500.0) - 0.0)
                                  * 10 / 500.0), 9) AS INT) AS bin_x,
                 CAST(LEAST(FLOOR((LEAST(GREATEST(EXTRACT(hour FROM ts), 0.0), 24.0)
                                   - 0.0) * 24 / 24.0), 23) AS INT) AS bin_y,
                 COUNT(*) AS c
               FROM events GROUP BY 1, 2)
    SELECT sx.bin_x, sy.bin_y, COALESCE(b.c, 0) AS count_exact
    FROM (SELECT CAST(range AS INT) AS bin_x FROM range(0, 10)) sx
    CROSS JOIN (SELECT CAST(range AS INT) AS bin_y FROM range(0, 24)) sy
    LEFT JOIN b USING (bin_x, bin_y)
    """,
)
def x114_dp_heatmap_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-noise core of the (value x hour-of-day) DP heatmap."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_histogram_2d

    ev = load_table(spark, sf_dir, "events").withColumn(
        "hod", F.hour("ts").cast("double")
    )
    return dp_histogram_2d(
        ev, "value", "hod", 10, 24, epsilon=1.0,
        x_bounds=(0.0, 500.0), y_bounds=(0.0, 24.0),
        release="x114_dp_heatmap_exact",
    ).drop("count_dp")


@query("x114_dp_heatmap")
def x114_dp_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Noisy flavor (rows-only: includes the Laplace draws)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_histogram_2d

    ev = load_table(spark, sf_dir, "events").withColumn(
        "hod", F.hour("ts").cast("double")
    )
    return dp_histogram_2d(
        ev, "value", "hod", 10, 24, epsilon=1.0,
        x_bounds=(0.0, 500.0), y_bounds=(0.0, 24.0),
        release="x114_dp_heatmap",
    )


# --------------------------------------------------------------------------
# X113 — cross-source overlap matrix (operators/dedup.py
# source_overlap_matrix): distinct (source, shingle) collapse ->
# shingle-keyed self-join (fan-out <= |sources|² per shingle) ->
# broadcast sizes; exact-int Jaccard.
# --------------------------------------------------------------------------
@query(
    "x113_source_overlap",
    """
    WITH t AS (SELECT doc_id, source,
                      string_split_regex(lower(trim(text)), '\\s+') AS toks
               FROM documents),
    sh AS (SELECT DISTINCT source, unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 2, 0)),
           i -> array_to_string(toks[i:i+2], ' ')))) AS shingle FROM t),
    sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1),
    pairs AS (SELECT a.source AS source_a, b.source AS source_b,
                     CAST(COUNT(*) AS BIGINT) AS shared
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
              GROUP BY 1, 2)
    SELECT source_a, source_b, shared, sa.n AS n_a, sb.n AS n_b,
           ROUND(shared / CAST(sa.n + sb.n - shared AS DOUBLE), 9) AS jaccard_r
    FROM pairs
    JOIN sizes sa ON sa.source = pairs.source_a
    JOIN sizes sb ON sb.source = pairs.source_b
    """,
)
def x113_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-3-gram overlap matrix across corpus sources."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import source_overlap_matrix

    docs = load_table(spark, sf_dir, "documents")
    return source_overlap_matrix(docs, "source", n=3)


# --------------------------------------------------------------------------
# X112 — n-gram novelty (operators/dedup.py ngram_novelty): fraction of
# a doc's distinct 3-grams with corpus df == 1; X3 skeleton, hash-only
# shuffles. Oracle = the string-shingle twin (x18 convention).
# --------------------------------------------------------------------------
@query(
    "x112_novelty",
    """
    WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
               FROM documents),
    sh AS (SELECT doc_id, list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 2, 0)),
           i -> array_to_string(toks[i:i+2], ' '))) AS s FROM t),
    e AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
    dfreq AS (SELECT shingle, COUNT(*) AS df FROM e GROUP BY 1),
    per AS (SELECT e.doc_id,
                   CAST(SUM(CASE WHEN dfreq.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
            FROM e JOIN dfreq USING (shingle) GROUP BY 1)
    SELECT sh.doc_id, CAST(len(sh.s) AS BIGINT) AS n_ngrams,
           CAST(COALESCE(per.n_unique, 0) AS BIGINT) AS n_unique,
           ROUND(CASE WHEN len(sh.s) > 0
                      THEN COALESCE(per.n_unique, 0) / CAST(len(sh.s) AS DOUBLE)
                      ELSE 0.0 END, 9) AS novelty_r
    FROM sh LEFT JOIN per USING (doc_id)
    """,
)
def x112_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document corpus novelty over word 3-grams."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import ngram_novelty

    docs = load_table(spark, sf_dir, "documents")
    return ngram_novelty(docs, n=3)


# --------------------------------------------------------------------------
# X110 — one-way ANOVA (operators/stats.py anova_oneway): k-group mean
# comparison from per-group (n, Σx, Σx²); x63 closed-form shape.
# --------------------------------------------------------------------------
@query(
    "x110_anova",
    """
    WITH g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                      SUM(value) AS s, SUM(value * value) AS ss
               FROM events GROUP BY 1),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k,
                 SUM(s) AS ts, SUM(ss) AS tss,
                 SUM(ss - s * s / n) AS ssw
          FROM g)
    SELECT n, k,
           ROUND((tss - n * (ts / n) * (ts / n)) - ssw, 6) AS ssb_r,
           ROUND(ssw, 6) AS ssw_r,
           CASE WHEN k >= 2 AND ROUND(ssw, 6) > 0
                THEN ROUND((((tss - n * (ts / n) * (ts / n)) - ssw) / (k - 1))
                           / (ssw / (n - k)), 6) END AS f_r
    FROM t
    """,
)
def x110_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does mean event value differ across event types? One-way ANOVA."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import anova_oneway

    ev = load_table(spark, sf_dir, "events")
    return anova_oneway(ev, "value", "event_type")


# --------------------------------------------------------------------------
# X111 — Gini concentration (operators/stats.py gini_concentration):
# inequality of per-key mass; rank window over the keys-sized totals
# relation, deterministic (value, key) order.
# --------------------------------------------------------------------------
@query(
    "x111_gini",
    """
    WITH totals AS (SELECT o_custkey AS k,
                           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
                    FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1),
    ranked AS (SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY x ASC, k ASC) AS BIGINT) AS i
               FROM totals),
    a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys, CAST(SUM(x) AS BIGINT) AS t,
                 SUM(i * x) AS wx
          FROM ranked)
    SELECT n_keys, ROUND(CAST(t AS DOUBLE) / 100.0, 6) AS total_r,
           CASE WHEN n_keys >= 2 AND t > 0
                THEN ROUND(2.0 * CAST(wx AS DOUBLE)
                           / (CAST(n_keys AS DOUBLE) * CAST(t AS DOUBLE))
                           - (CAST(n_keys AS DOUBLE) + 1.0) / CAST(n_keys AS DOUBLE), 9)
           END AS gini_r
    FROM a
    """,
)
def x111_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concentration of order revenue over customers (Gini)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import gini_concentration

    o = load_table(spark, sf_dir, "orders")
    return gini_concentration(o, "o_custkey", "o_totalprice", as_cents=True)


# --------------------------------------------------------------------------
# X109 — Spearman rank correlation (operators/stats.py spearman_corr):
# tie-averaged ranks doubled into int64, DECIMAL/HUGEINT-exact sums,
# fixed double closed form. Rank tables broadcast onto the slim pair
# projection.
# --------------------------------------------------------------------------
@query(
    "x109_spearman",
    """
    WITH slim AS (SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem
                  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
    rx AS (SELECT x, 2 * COALESCE(SUM(c) OVER (ORDER BY x
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS rx
           FROM (SELECT x, COUNT(*) AS c FROM slim GROUP BY 1)),
    ry AS (SELECT y, 2 * COALESCE(SUM(c) OVER (ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS ry
           FROM (SELECT y, COUNT(*) AS c FROM slim GROUP BY 1)),
    r AS (SELECT rx.rx, ry.ry FROM slim JOIN rx USING (x) JOIN ry USING (y)),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(rx) AS sx, SUM(ry) AS sy,
                 SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy,
                 SUM(rx * ry) AS sxy
          FROM r)
    SELECT n,
           CASE WHEN (CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
                      - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) > 0
                 AND (CAST(syy AS DOUBLE) / CAST(n AS DOUBLE)
                      - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))) > 0
           THEN ROUND((CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)
                       - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
                      / SQRT((CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
                              - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                                * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
                             * (CAST(syy AS DOUBLE) / CAST(n AS DOUBLE)
                                - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                                  * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))), 9)
           END AS rho_r
    FROM s
    """,
)
def x109_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of lineitem quantity vs extended price."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import spearman_corr

    li = load_table(spark, sf_dir, "lineitem")
    return spearman_corr(li, "l_quantity", "l_extendedprice")


# --------------------------------------------------------------------------
# X108 — two-sample Kolmogorov–Smirnov (operators/stats.py ks_statistic):
# sup-CDF-gap drift test; |cum_a·n_b − cum_b·n_a| integer-exact, one
# IEEE division at release (x51/x64/x80 convention).
# --------------------------------------------------------------------------
@query(
    "x108_ks_test",
    """
    WITH counts AS (SELECT value,
                  SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
                  SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cb
           FROM events WHERE event_type IN ('click', 'purchase')
             AND value IS NOT NULL GROUP BY 1),
    cum AS (SELECT CAST(SUM(ca) OVER w AS BIGINT) AS cum_a,
                   CAST(SUM(cb) OVER w AS BIGINT) AS cum_b
            FROM counts WINDOW w AS (ORDER BY value
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    tot AS (SELECT cum_a, cum_b,
                   MAX(cum_a) OVER () AS na, MAX(cum_b) OVER () AS nb
            FROM cum)
    SELECT MAX(na) AS n_a, MAX(nb) AS n_b,
           MAX(ABS(cum_a * nb - cum_b * na)) AS d_num,
           ROUND(MAX(ABS(cum_a * nb - cum_b * na)) * 1.0
                 / (MAX(na) * MAX(nb)), 9) AS ks_r
    FROM tot
    """,
)
def x108_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS drift statistic between click and purchase value distributions."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import ks_statistic

    ev = load_table(spark, sf_dir, "events")
    return ks_statistic(ev, "value", "event_type", "click", "purchase")


# --------------------------------------------------------------------------
# X106 — m-invariance audit (operators/tcloseness.py m_invariance_audit,
# Xiao & Tao SIGMOD'07): serial-publication intersection-attack check.
# Two overlapping portable-md5 samples stand in for two releases.
# --------------------------------------------------------------------------
@query("x106_m_invariance", None)  # SQL attached below — needs md5 thresholds
def x106_m_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature drift between two 60% releases of the binned customer
    table: per class, each release's sorted sensitive signature and the
    invariant/weak/changed/only-one-side verdict."""
    from dbms_data_anonymity_differential_privacy_spark.operators.sampling import hash_sample
    from dbms_data_anonymity_differential_privacy_spark.operators.tcloseness import m_invariance_audit

    b = binned_customer(spark, sf_dir)
    ra = hash_sample(b, ["c_custkey"], 0.6, salt="x106a")
    rb = hash_sample(b, ["c_custkey"], 0.6, salt="x106b")
    return m_invariance_audit(ra, rb, ["c_nationkey", "acctbal_bin"], "c_mktsegment", m=2)


from dbms_data_anonymity_differential_privacy_spark.operators.sampling import (  # noqa: E402
    _threshold_hex as _thex,
)

ORACLE_SQL["x106_m_invariance"] = f"""
    WITH {BINNED_CUSTOMER_CTE},
    ra AS (SELECT c_nationkey, acctbal_bin, c_mktsegment FROM binned
           WHERE substr(md5(cast(c_custkey AS varchar) || '|x106a'), 1, 8)
                 < '{_thex(0.6)}'),
    rb AS (SELECT c_nationkey, acctbal_bin, c_mktsegment FROM binned
           WHERE substr(md5(cast(c_custkey AS varchar) || '|x106b'), 1, 8)
                 < '{_thex(0.6)}'),
    sa AS (SELECT c_nationkey, acctbal_bin,
                  array_to_string(list(DISTINCT c_mktsegment ORDER BY c_mktsegment), ',') AS sig_a,
                  CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS m_a
           FROM ra GROUP BY 1, 2),
    sb AS (SELECT c_nationkey, acctbal_bin,
                  array_to_string(list(DISTINCT c_mktsegment ORDER BY c_mktsegment), ',') AS sig_b,
                  CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS m_b
           FROM rb GROUP BY 1, 2)
    SELECT c_nationkey, acctbal_bin, sig_a, sig_b, m_a, m_b,
           CASE WHEN sig_a IS NULL THEN 'only_b'
                WHEN sig_b IS NULL THEN 'only_a'
                WHEN sig_a = sig_b AND m_a >= 2 AND m_b >= 2 THEN 'invariant'
                WHEN sig_a = sig_b THEN 'weak'
                ELSE 'changed' END AS status
    FROM sa FULL OUTER JOIN sb USING (c_nationkey, acctbal_bin)
    """


# --------------------------------------------------------------------------
# X105 — pivot release (operators/rollup.py pivot_release): wide-format
# cross-tab with small-cell suppression; declared pivot values compile
# to ONE conditional aggregation. 0 = true zero, NULL = suppressed.
# --------------------------------------------------------------------------
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


@query(
    "x105_pivot_release",
    f"""
    SELECT c_nationkey,
           {", ".join(
               f'''CASE WHEN COUNT(*) FILTER (c_mktsegment = '{v}') >= 5
                        THEN COUNT(*) FILTER (c_mktsegment = '{v}')
                        WHEN COUNT(*) FILTER (c_mktsegment = '{v}') = 0
                        THEN 0 END AS "{v}"'''
               for v in _SEGMENTS
           )}
    FROM customer GROUP BY c_nationkey
    """,
)
def x105_pivot_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation × market-segment cross-tab, cells under k=5 suppressed."""
    from dbms_data_anonymity_differential_privacy_spark.operators.rollup import pivot_release

    c = load_table(spark, sf_dir, "customer")
    return pivot_release(c, ["c_nationkey"], "c_mktsegment", _SEGMENTS, k=5)


# --------------------------------------------------------------------------
# X104 — EWMA smoothing (operators/stats.py ewma_smooth): truncated
# exponential smoothing with driver-literal weights and a pinned left
# fold (x86 literal + x23 fold conventions); windows on the buckets
# relation.
# --------------------------------------------------------------------------
def _x104_sql(alpha: float = 0.3, window: int = 24) -> str:
    wts = [alpha * (1.0 - alpha) ** i for i in range(window)]
    cumw = []
    acc = 0.0
    for v in wts:
        acc += v
        cumw.append(acc)
    wts_l = "[" + ", ".join(repr(v) for v in wts) + "]"
    cumw_l = "[" + ", ".join(repr(v) for v in cumw) + "]"
    return f"""
    WITH c AS (SELECT event_type,
                      CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket_start,
                      COUNT(*) AS n
               FROM events GROUP BY 1, 2),
    w AS (SELECT event_type, bucket_start, n,
                 list(CAST(n AS DOUBLE)) OVER (PARTITION BY event_type ORDER BY bucket_start
                      ROWS BETWEEN {window - 1} PRECEDING AND CURRENT ROW) AS xs
          FROM c)
    SELECT event_type, bucket_start, n,
           ROUND(list_reduce(list_transform(generate_series(1, len(xs)),
                     j -> xs[j] * ({wts_l}[len(xs) - j + 1])), (a, b) -> a + b)
                 / ({cumw_l}[len(xs)]), 6) AS ewma_r
    FROM w
    """


@query("x104_ewma", _x104_sql())
def x104_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-type event rates smoothed by a 24-bucket EWMA."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import ewma_smooth

    ev = load_table(spark, sf_dir, "events")
    return ewma_smooth(ev, ["event_type"], bucket="1 hour", alpha=0.3, window=24)


# --------------------------------------------------------------------------
# X153 — skyline / Pareto frontier (operators/skyline.py). Orders that are
# not dominated on (totalprice, orderdate): no other order is >= on both
# and > on one. The reference's only selection is a single-criterion
# threshold (naive-suppresion.py:40); the skyline is the exact
# multi-criteria generalization. Oracle mirrors the collapse->sweep
# formulation (group-max then running max over d1 desc), NOT the
# quadratic NOT EXISTS.
# --------------------------------------------------------------------------
@query(
    "x153_skyline",
    """
    WITH g AS (SELECT o_totalprice AS d1, MAX(o_orderdate) AS mx2
               FROM orders GROUP BY 1),
    s AS (SELECT d1, mx2,
                 MAX(mx2) OVER (ORDER BY d1 DESC ROWS BETWEEN UNBOUNDED
                                PRECEDING AND 1 PRECEDING) AS gmax
          FROM g),
    f AS (SELECT d1, mx2 FROM s WHERE gmax IS NULL OR mx2 > gmax)
    SELECT o.o_totalprice, o.o_orderdate, o.o_orderkey
    FROM orders o JOIN f ON o.o_totalprice = f.d1 AND o.o_orderdate = f.mx2
    """,
)
def x153_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of orders maximising (totalprice, recency)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.skyline import skyline_2d

    o = load_table(spark, sf_dir, "orders")
    return skyline_2d(o, "o_totalprice", "o_orderdate", payload=["o_orderkey"])


# --------------------------------------------------------------------------
# X155 — Adamic–Adar link prediction (operators/graph.py adamic_adar) over
# the x138 co-purchase graph (parts sharing >= 2 orders): top-20
# non-adjacent part pairs ranked by summed 1/ln(common-neighbor degree).
# Deterministic cut: (aa_r desc, u, v).
# --------------------------------------------------------------------------
@query(
    "x155_adamic_adar",
    """
    WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
    pr AS (SELECT a.i AS x, b.i AS y FROM items a
           JOIN items b ON a.b = b.b AND a.i < b.i
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    nb AS (SELECT x AS node, y AS nbr FROM pr UNION ALL SELECT y, x FROM pr),
    deg AS (SELECT node AS w, CAST(COUNT(*) AS BIGINT) AS d FROM nb GROUP BY 1),
    wedge AS (SELECT a.node AS u, b.node AS v, a.nbr AS w
              FROM nb a JOIN nb b ON a.nbr = b.nbr AND a.node < b.node),
    cand AS (SELECT u, v, CAST(COUNT(*) AS BIGINT) AS cn,
                    ROUND(SUM(1.0 / ln(d)), 6) AS aa_r
             FROM wedge JOIN deg USING (w) GROUP BY 1, 2)
    SELECT u, v, cn, aa_r FROM cand c
    WHERE NOT EXISTS (SELECT 1 FROM pr WHERE pr.x = c.u AND pr.y = c.v)
    ORDER BY aa_r DESC, u, v LIMIT 20
    """,
)
def x155_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 predicted missing links in the co-purchase graph."""
    from dbms_data_anonymity_differential_privacy_spark.operators.graph import adamic_adar

    # shared basket edge builder (identical edge set to the items
    # self-join form it replaced; see _copurchase_part_edges, r10)
    edges = _copurchase_part_edges(spark, sf_dir)
    return adamic_adar(edges, top=20)


# --------------------------------------------------------------------------
# X156 — Kruskal–Wallis H (operators/stats.py kruskal_wallis): k-group
# rank test of event value across event types; x80's distinct-value
# cumsum shape, midranks + tie correction.
# --------------------------------------------------------------------------
@query(
    "x156_kruskal_wallis",
    """
    WITH gv AS (SELECT event_type AS g, value AS v FROM events
                WHERE value IS NOT NULL AND event_type IS NOT NULL),
    per_gv AS (SELECT v, g, COUNT(*) AS c FROM gv GROUP BY 1, 2),
    per_v AS (SELECT v, COUNT(*) AS t FROM gv GROUP BY 1),
    rv AS (SELECT v, t,
                  CAST(COALESCE(SUM(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                        PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
                  + (CAST(t AS DOUBLE) + 1.0) / 2.0 AS midrank
           FROM per_v),
    rs AS (SELECT g, CAST(SUM(c) AS BIGINT) AS ng,
                  SUM(CAST(c AS DOUBLE) * midrank) AS rg
           FROM per_gv JOIN rv USING (v) GROUP BY g),
    ties AS (SELECT CAST(SUM(t * t * t - t) AS DOUBLE) AS tie3 FROM rv),
    agg AS (SELECT CAST(SUM(ng) AS BIGINT) AS n_total,
                   CAST(COUNT(*) AS BIGINT) AS k_groups,
                   SUM(rg * rg / CAST(ng AS DOUBLE)) AS s
            FROM rs)
    SELECT n_total, k_groups,
           ROUND(12.0 / (n_total * (n_total + 1.0)) * s
                 - 3.0 * (n_total + 1.0), 9) AS h_r,
           ROUND(CASE WHEN 1.0 - tie3 / (CAST(n_total AS DOUBLE) * n_total * n_total
                                         - n_total) > 0
                      THEN (12.0 / (n_total * (n_total + 1.0)) * s
                            - 3.0 * (n_total + 1.0))
                           / (1.0 - tie3 / (CAST(n_total AS DOUBLE) * n_total
                                            * n_total - n_total)) END, 9) AS h_tie_r
    FROM agg CROSS JOIN ties
    """,
)
def x156_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis H across event types on the value metric."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import kruskal_wallis

    ev = load_table(spark, sf_dir, "events")
    return kruskal_wallis(ev, "value", "event_type")


# --------------------------------------------------------------------------
# X157 — Cliff's delta (operators/stats.py cliffs_delta): ordinal effect
# size purchase-vs-click on value. Win/loss/tie pair counts are
# integer-exact from the x80 distinct-value cumsum; one final division.
# --------------------------------------------------------------------------
@query(
    "x157_cliffs_delta",
    """
    WITH c AS (SELECT value AS v,
                      SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS na,
                      SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS nb
               FROM events
               WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
               GROUP BY 1),
    s AS (SELECT na, nb,
                 COALESCE(SUM(nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                          PRECEDING AND 1 PRECEDING), 0) AS b_below,
                 COALESCE(SUM(na) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                          PRECEDING AND 1 PRECEDING), 0) AS a_below
          FROM c),
    agg AS (SELECT CAST(SUM(na) AS BIGINT) AS n_a,
                   CAST(SUM(nb) AS BIGINT) AS n_b,
                   CAST(SUM(na * b_below) AS BIGINT) AS wins_a,
                   CAST(SUM(nb * a_below) AS BIGINT) AS wins_b,
                   CAST(SUM(na * nb) AS BIGINT) AS ties
            FROM s)
    SELECT n_a, n_b, wins_a, wins_b, ties,
           ROUND(CASE WHEN n_a * n_b > 0 THEN
                 CAST(wins_a - wins_b AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_b)
                 END, 9) AS delta_r
    FROM agg
    """,
)
def x157_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta effect size, purchase vs click event values."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import cliffs_delta

    ev = load_table(spark, sf_dir, "events")
    return cliffs_delta(ev, "value", "event_type", "purchase", "click")


# --------------------------------------------------------------------------
# X158 — permutation test (operators/stats.py permutation_test_means):
# randomization-inference p-value for the hash-split A/B difference in
# per-user value sums; 100 portable md5-drawn permutations, so DuckDB
# replays the identical assignments.
# --------------------------------------------------------------------------
@query(
    "x158_permutation_test",
    """
    WITH pu AS (SELECT user_id AS u, SUM(value) AS x FROM events
                WHERE value IS NOT NULL GROUP BY 1),
    a AS (SELECT u, x, p,
                 substr(md5(CAST(u AS VARCHAR) || '|' || CAST(p AS VARCHAR)
                            || '|permtest'), 1, 8) < '80000000' AS treat
          FROM pu CROSS JOIN (SELECT unnest(generate_series(0, 100)) AS p)),
    pp AS (SELECT p, COUNT(*) AS n,
                  AVG(CASE WHEN treat THEN x END)
                  - AVG(CASE WHEN NOT treat THEN x END) AS diff
           FROM a GROUP BY 1),
    obs AS (SELECT n AS n_units, diff AS obs FROM pp WHERE p = 0)
    SELECT CAST(n_units AS BIGINT) AS n_units,
           CAST(COUNT(*) AS BIGINT) AS n_perms,
           ROUND(MAX(obs), 6) AS obs_diff_r,
           ROUND((1.0 + SUM(CASE WHEN ABS(diff) >= ABS(obs) THEN 1 ELSE 0 END))
                 / (COUNT(*) + 1.0), 6) AS p_value_r
    FROM pp CROSS JOIN obs WHERE p >= 1 GROUP BY n_units
    """,
)
def x158_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation p-value for the A/B difference in per-user spend."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import (
        permutation_test_means,
    )

    ev = load_table(spark, sf_dir, "events")
    return permutation_test_means(ev, "value", "user_id", n_perms=100)


# --------------------------------------------------------------------------
# X159 — quantile normalization (operators/features.py
# quantile_normalize): per-source document lengths mapped onto the
# pooled length distribution by nearest-rank quantile; integer-exact
# (rank arithmetic via DIV, values from the pooled domain).
# --------------------------------------------------------------------------
@query(
    "x159_quantile_norm",
    """
    WITH d AS (SELECT doc_id, source, n_chars AS v FROM documents
               WHERE n_chars IS NOT NULL),
    pv AS (SELECT v, COUNT(*) AS t FROM d GROUP BY 1),
    cum AS (SELECT v, t, COALESCE(SUM(t) OVER (ORDER BY v ROWS BETWEEN
                         UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lo
            FROM pv),
    ranks AS (SELECT lo + unnest(generate_series(1, t)) AS k, v AS qnorm
              FROM cum),
    n AS (SELECT COUNT(*) AS n_all FROM d),
    g AS (SELECT source, COUNT(*) AS ng FROM d GROUP BY 1),
    r AS (SELECT doc_id, source, v,
                 ROW_NUMBER() OVER (PARTITION BY source ORDER BY v, doc_id) AS rk
          FROM d),
    kk AS (SELECT doc_id, source, v,
                  ((2 * rk - 1) * n_all + 2 * ng - 1) // (2 * ng) AS k
           FROM r JOIN g USING (source) CROSS JOIN n)
    SELECT doc_id, source, v AS n_chars, qnorm
    FROM kk JOIN ranks USING (k)
    """,
)
def x159_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalize per-source document lengths to the pool."""
    from dbms_data_anonymity_differential_privacy_spark.operators.features import quantile_normalize

    d = load_table(spark, sf_dir, "documents")
    return quantile_normalize(d, "n_chars", "source", id_cols=["doc_id"])


# --------------------------------------------------------------------------
# X160 — label propagation communities (operators/graph.py
# label_propagation): 3 deterministic synchronous rounds (mode of
# neighbor labels, ties -> smallest) over the co-purchase graph; oracle
# replays the identical rounds as unrolled CTEs.
# --------------------------------------------------------------------------
def _x160_sql(iters: int = 3) -> str:
    rounds = []
    prev = "l0"
    for i in range(1, iters + 1):
        rounds.append(
            f"""r{i} AS (SELECT a.node, l.label FROM adj a
                   JOIN {prev} l ON l.node = a.nbr),
    c{i} AS (SELECT node, label, COUNT(*) AS c FROM r{i} GROUP BY 1, 2),
    l{i} AS (SELECT node, label FROM
                 (SELECT node, label, ROW_NUMBER() OVER (PARTITION BY node
                         ORDER BY c DESC, label) AS rk FROM c{i})
             WHERE rk = 1)"""
        )
        prev = f"l{i}"
    return f"""
    WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
    pr AS (SELECT a.i AS x, b.i AS y FROM items a
           JOIN items b ON a.b = b.b AND a.i < b.i
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    adj AS (SELECT x AS node, y AS nbr FROM pr UNION ALL SELECT y, x FROM pr),
    l0 AS (SELECT DISTINCT node, node AS label FROM adj),
    {", ".join(rounds)}
    SELECT node, label AS community FROM {prev}
    """


@query("x160_label_prop", _x160_sql())
def x160_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 3-round label-propagation communities."""
    from dbms_data_anonymity_differential_privacy_spark.operators.graph import label_propagation

    return label_propagation(_copurchase_part_edges(spark, sf_dir), iters=3)


# --------------------------------------------------------------------------
# X161 — isotonic calibration (operators/features.py
# isotonic_calibration): weighted PAVA over 40 equal-width price bins
# against the binary finished-order label. Oracle evaluates the
# closed-form minimax characterization iso(i) = max_{j<=i} min_{k>=i}
# mean(y[j..k]) over the bin relation — PAVA's exact fixed point, and
# bit-equal here because all segment means are single divisions of
# exact integers (correctly-rounded IEEE).
# --------------------------------------------------------------------------
@query(
    "x161_isotonic",
    """
    WITH base AS (SELECT o_totalprice AS sc,
                         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
                  FROM orders),
    mm AS (SELECT MIN(sc) AS mn, MAX(sc) AS mx FROM base),
    b AS (SELECT CAST(CASE WHEN mm.mn = mm.mx THEN 0 ELSE
                 LEAST(FLOOR((sc - mm.mn) * 40 / (mm.mx - mm.mn)), 39)
                 END AS INT) AS bin, y
          FROM base CROSS JOIN mm),
    bins AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
                    CAST(SUM(y) AS BIGINT) AS pos
             FROM b GROUP BY 1),
    pref AS (SELECT bin, n, pos,
                    SUM(n) OVER (ORDER BY bin) AS cn,
                    SUM(pos) OVER (ORDER BY bin) AS cp
             FROM bins),
    seg AS (SELECT a.bin AS j, c.bin AS k,
                   CAST(c.cp - (a.cp - a.pos) AS DOUBLE)
                   / CAST(c.cn - (a.cn - a.n) AS DOUBLE) AS m
            FROM pref a JOIN pref c ON a.bin <= c.bin),
    mn AS (SELECT s.j, i.bin AS i, MIN(s.m) AS v
           FROM seg s JOIN bins i ON s.j <= i.bin AND s.k >= i.bin
           GROUP BY 1, 2),
    iso AS (SELECT i, MAX(v) AS iso FROM mn GROUP BY 1)
    SELECT bins.bin, bins.n, bins.pos,
           ROUND(CAST(bins.pos AS DOUBLE) / bins.n, 9) AS rate_r,
           ROUND(iso.iso, 9) AS iso_r
    FROM bins JOIN iso ON iso.i = bins.bin
    """,
)
def x161_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration of finished-order rate vs order price."""
    from dbms_data_anonymity_differential_privacy_spark.operators.features import (
        isotonic_calibration,
    )

    o = load_table(spark, sf_dir, "orders")
    return isotonic_calibration(
        o, "o_totalprice", (F.col("o_orderstatus") == "F").cast("long"), n_bins=40
    )


# --------------------------------------------------------------------------
# X162 — stream-stream interval join, batch twin (streaming/joins.py):
# click→purchase attribution pairs within 30 minutes; the streaming
# flavor shares the same condition builder and is equivalence-tested in
# tests/test_round6_ops.py.
# --------------------------------------------------------------------------
@query(
    "x162_stream_join",
    """
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           CAST(date_diff('microsecond', c.ts, p.ts) // 1000000 AS BIGINT) AS lag_sec
    FROM events c JOIN events p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
)
def x162_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase pairs within the 30-minute attribution window."""
    from dbms_data_anonymity_differential_privacy_spark.streaming.joins import (
        click_purchase_pairs_batch,
    )

    ev = load_table(spark, sf_dir, "events")
    return click_purchase_pairs_batch(ev)


# --------------------------------------------------------------------------
# X163 — Poisson bootstrap CI (operators/stats.py bootstrap_ci_mean):
# 95% CI for mean per-user spend from 200 portable md5-decoded
# Poisson(1) resamples; nearest-rank order statistics over the B-row
# replicate relation.
# --------------------------------------------------------------------------
def _x163_sql(n_boot: int = 200, salt: str = "boot") -> str:
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import poisson1_thresholds_hex

    th = poisson1_thresholds_hex()
    case = "CASE " + " ".join(
        f"WHEN h < '{t}' THEN {k}" for k, t in enumerate(th)
    ) + f" ELSE {len(th)} END"
    return f"""
    WITH pu AS (SELECT user_id AS u, SUM(value) AS x FROM events
                WHERE value IS NOT NULL GROUP BY 1),
    e AS (SELECT u, x, b,
                 substr(md5(CAST(u AS VARCHAR) || '|' || CAST(b AS VARCHAR)
                            || '|{salt}'), 1, 8) AS h
          FROM pu CROSS JOIN (SELECT unnest(generate_series(1, {n_boot})) AS b)),
    wtd AS (SELECT b, {case} AS w, x FROM e),
    boots AS (SELECT b, SUM(w * x) / SUM(CAST(w AS DOUBLE)) AS m
              FROM wtd GROUP BY 1),
    ranked AS (SELECT m, ROW_NUMBER() OVER (ORDER BY m) AS rk,
                      COUNT(*) OVER () AS nn
               FROM boots WHERE m IS NOT NULL),
    ci AS (SELECT MAX(CASE WHEN rk = (25 * nn + 999) // 1000 THEN m END) AS lo,
                  MAX(CASE WHEN rk = (975 * nn + 999) // 1000 THEN m END) AS hi,
                  CAST(COUNT(*) AS BIGINT) AS n_boot
           FROM ranked),
    base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_units, AVG(x) AS mean
             FROM pu)
    SELECT n_units, n_boot, ROUND(mean, 6) AS mean_r,
           ROUND(lo, 6) AS lo95_r, ROUND(hi, 6) AS hi95_r
    FROM base CROSS JOIN ci
    """


@query("x163_bootstrap_ci", _x163_sql())
def x163_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for mean per-user spend."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import bootstrap_ci_mean

    ev = load_table(spark, sf_dir, "events")
    return bootstrap_ci_mean(ev, "value", "user_id", n_boot=200)


# --------------------------------------------------------------------------
# X164 — TextRank keywords (operators/text.py textrank_keywords):
# integer PageRank (x126 update rule, bit-exact) over the adjacent-token
# co-occurrence graph; dense word ids from the sorted vocabulary. Top 30
# by (rank desc, word).
# --------------------------------------------------------------------------
def _x164_sql(iters: int = 10, top: int = 30) -> str:
    ctes = [
        r"toks AS (SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS t"
        " FROM documents)",
        "p0 AS (SELECT t, unnest(generate_series(1, CAST(len(t) AS INT) - 1)) AS i"
        " FROM toks)",
        "pe AS (SELECT t[i] AS wa, t[i+1] AS wb FROM p0"
        " WHERE t[i] <> '' AND t[i+1] <> '' AND t[i] <> t[i+1])",
        "und AS (SELECT DISTINCT LEAST(wa, wb) AS a, GREATEST(wa, wb) AS b FROM pe)",
        "vocab AS (SELECT w, ROW_NUMBER() OVER (ORDER BY w) AS wid FROM"
        " (SELECT DISTINCT unnest(t) AS w FROM toks) WHERE w <> '')",
        "e0 AS (SELECT va.wid AS src, vb.wid AS dst FROM und"
        " JOIN vocab va ON va.w = und.a JOIN vocab vb ON vb.w = und.b"
        " UNION ALL SELECT vb.wid, va.wid FROM und"
        " JOIN vocab va ON va.w = und.a JOIN vocab vb ON vb.w = und.b)",
        "nodes AS (SELECT src AS node FROM e0 UNION SELECT dst FROM e0)",
        "nn AS (SELECT COUNT(*) AS n FROM nodes)",
        "deg AS (SELECT src AS node, COUNT(*) AS d FROM e0 GROUP BY 1)",
        "pr0 AS (SELECT node, CAST(1000000000 // nn.n AS BIGINT) AS r"
        " FROM nodes CROSS JOIN nn)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"pr{i} AS (SELECT n.node, CAST(150000000 // nn.n"
            f" + (17 * COALESCE(s.c, 0)) // 20 AS BIGINT) AS r"
            f" FROM nodes n CROSS JOIN nn LEFT JOIN"
            f" (SELECT e.dst AS node, SUM(p.r // d.d) AS c"
            f" FROM pr{i - 1} p JOIN e0 e ON e.src = p.node"
            f" JOIN deg d ON d.node = p.node GROUP BY 1) s USING (node))"
        )
    return (
        "WITH "
        + ", ".join(ctes)
        + f" SELECT v.w AS word, p.r AS rank_ppb FROM pr{iters} p"
        f" JOIN vocab v ON v.wid = p.node"
        f" ORDER BY p.r DESC, v.w LIMIT {top}"
    )


@query("x164_textrank", _x164_sql())
def x164_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 TextRank keywords over the document corpus."""
    from dbms_data_anonymity_differential_privacy_spark.operators.text import textrank_keywords

    d = load_table(spark, sf_dir, "documents")
    return textrank_keywords(d, iters=10, top=30)


# --------------------------------------------------------------------------
# X165 — Theil T inequality (operators/stats.py theil_index): per
# event-type inequality of positive event values; T = Σx·ln(x)/Σx −
# ln(μ), x154 ln/6dp float contract.
# --------------------------------------------------------------------------
@query(
    "x165_theil",
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 6) AS total_r,
           ROUND(SUM(value * ln(value)) / SUM(value)
                 - ln(SUM(value) / COUNT(*)), 6) AS theil_r
    FROM events WHERE value > 0
    GROUP BY event_type
    """,
)
def x165_theil(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil inequality of positive event values per event type."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import theil_index

    ev = load_table(spark, sf_dir, "events")
    return theil_index(ev, "value", ["event_type"])


# --------------------------------------------------------------------------
# X166 — landmark BFS profile (operators/graph.py bfs_profile): hop
# distance histogram from the 4 smallest co-purchase nodes, 4 unrolled
# rounds (union + per-(lm,node) MIN — identical formulation both sides).
# --------------------------------------------------------------------------
def _x166_sql(n_landmarks: int = 4, max_depth: int = 4) -> str:
    ctes = [
        "items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem)",
        "pr AS (SELECT a.i AS x, b.i AS y FROM items a"
        " JOIN items b ON a.b = b.b AND a.i < b.i"
        " GROUP BY 1, 2 HAVING COUNT(*) >= 2)",
        "adj AS (SELECT x AS node, y AS nbr FROM pr UNION ALL SELECT y, x FROM pr)",
        f"d0 AS (SELECT node AS lm, node, 0 AS dist FROM"
        f" (SELECT DISTINCT node FROM adj ORDER BY node LIMIT {n_landmarks}))",
    ]
    for d in range(1, max_depth + 1):
        ctes.append(
            f"d{d} AS (SELECT lm, node, MIN(dist) AS dist FROM ("
            f"SELECT * FROM d{d - 1}"
            f" UNION ALL SELECT p.lm, a.nbr AS node, p.dist + 1 AS dist"
            f" FROM d{d - 1} p JOIN adj a ON a.node = p.node"
            f" WHERE p.dist = {d - 1}) GROUP BY 1, 2)"
        )
    return (
        "WITH "
        + ", ".join(ctes)
        + f" SELECT lm AS landmark, dist, CAST(COUNT(*) AS BIGINT) AS n_nodes"
        f" FROM d{max_depth} GROUP BY 1, 2"
    )


@query("x166_bfs_profile", _x166_sql())
def x166_bfs_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-distance histogram from 4 landmark parts, depth 4."""
    from dbms_data_anonymity_differential_privacy_spark.operators.graph import bfs_profile

    return bfs_profile(
        _copurchase_part_edges(spark, sf_dir), n_landmarks=4, max_depth=4
    )


def _copurchase_part_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared co-purchase part graph for the x160/x166 families: parts
    co-ordered >= 2 times, src < dst.

    Basket formulation instead of an items self-join: collect each
    order's distinct parts into a sorted array (bounded by basket size —
    order line counts are bounded at any corpus scale) and emit the
    ordered pairs map-side with a nested ``transform`` — two shuffles
    (basket build + pair count) instead of three (distinct + join +
    count), no join. Same pair multiset, so the same edge set (r7
    equivalence-measured: identical 3,573 edges at sf0.1, ~30% less
    wall)."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    # two-level explode instead of a nested transform+flatten: the HOF
    # chain runs interpreted (CodegenFallback) and allocates a
    # struct-array per basket; posexplode + slice emits the identical
    # ordered-pair multiset through codegen generators — measured 1.60 s
    # -> 1.20 s for the edge build at sf0.1 (r10 optimization)
    x = baskets.select(F.posexplode("ps").alias("i", "src"), F.col("ps"))
    pairs = x.select(
        F.col("src"),
        F.explode(F.expr("slice(ps, i + 2, size(ps))")).alias("dst"),
    )
    return (
        pairs.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= 2)
        .select("src", "dst")
    )


# --------------------------------------------------------------------------
# Distributed graph flavors — same operators, same oracles, with the
# driver fast path disabled (driver_threshold=0) so the ITERATIVE JOIN
# plans that 100x scale will actually run are bench-visible and
# oracle-checked at every sf (the hybrid fast path otherwise absorbs
# everything under 2M edges; r5 verdict task 5).
# --------------------------------------------------------------------------
@query("x126_pagerank_dist", _x126_sql())
def x126_pagerank_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x126 with the distributed iterative-join plan forced."""
    from dbms_data_anonymity_differential_privacy_spark.operators.graph import pagerank_int

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(F.col("l_suppkey").alias("src"), F.col("o_custkey").alias("dst"))
        .distinct()
    )
    return pagerank_int(edges, iters=10, driver_threshold=0)


@query("x160_label_prop_dist", _x160_sql())
def x160_label_prop_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x160 with the distributed iterative-join plan forced."""
    from dbms_data_anonymity_differential_privacy_spark.operators.graph import label_propagation

    return label_propagation(
        _copurchase_part_edges(spark, sf_dir), iters=3, driver_threshold=0
    )


@query("x166_bfs_dist", _x166_sql())
def x166_bfs_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x166 with the distributed per-round join plan forced."""
    from dbms_data_anonymity_differential_privacy_spark.operators.graph import bfs_profile

    return bfs_profile(
        _copurchase_part_edges(spark, sf_dir),
        n_landmarks=4,
        max_depth=4,
        driver_threshold=0,
    )


# --------------------------------------------------------------------------
# X167 — Mahalanobis outliers (operators/stats.py mahalanobis_outliers):
# joint (extendedprice, quantity) outliers via the closed-form 2-D
# inverse covariance; one moments pass broadcast back, TakeOrdered cut.
# --------------------------------------------------------------------------
@query(
    "x167_mahalanobis",
    """
    WITH base AS (SELECT l_orderkey, l_linenumber,
                         CAST(l_extendedprice AS DOUBLE) AS x,
                         CAST(l_quantity AS DOUBLE) AS y
                  FROM lineitem
                  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL),
    m AS (SELECT AVG(x) AS mx, AVG(y) AS my,
                 AVG(x * x) - AVG(x) * AVG(x) AS sxx,
                 AVG(y * y) - AVG(y) * AVG(y) AS syy,
                 AVG(x * y) - AVG(x) * AVG(y) AS sxy
          FROM base)
    SELECT l_orderkey, l_linenumber, x, y,
           ROUND(CASE WHEN sxx * syy - sxy * sxy > 0 THEN
                 (syy * (x - mx) * (x - mx)
                  - 2.0 * sxy * (x - mx) * (y - my)
                  + sxx * (y - my) * (y - my))
                 / (sxx * syy - sxy * sxy) END, 6) AS d2_r
    FROM base CROSS JOIN m
    ORDER BY d2_r DESC, l_orderkey, l_linenumber LIMIT 10
    """,
)
def x167_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 joint price/quantity outliers by Mahalanobis distance."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import mahalanobis_outliers

    li = load_table(spark, sf_dir, "lineitem")
    return mahalanobis_outliers(
        li, "l_extendedprice", "l_quantity", ["l_orderkey", "l_linenumber"], top=10
    )


# --------------------------------------------------------------------------
# X168 — group-sequential A/B (operators/stats.py sequential_ab): 4
# weekly O'Brien-Fleming interim looks at the purchase-conversion z;
# boundary literals c(4)*sqrt(4/k) shared verbatim with the oracle.
# --------------------------------------------------------------------------
_X168_LOOKS = [
    "2024-01-08 00:00:00",
    "2024-01-15 00:00:00",
    "2024-01-22 00:00:00",
    "2024-01-29 00:00:00",
]


def _x168_sql() -> str:
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import OBF_C

    k_total = len(_X168_LOOKS)
    c = OBF_C[k_total]
    looks = ", ".join(
        f"({i + 1}, TIMESTAMP '{ts}')" for i, ts in enumerate(_X168_LOOKS)
    )
    return f"""
    WITH pu AS (SELECT user_id AS u, MIN(ts) AS first_ts,
                       MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS conv_ts,
                       substr(md5(CAST(user_id AS VARCHAR) || '|ab'), 1, 8)
                           < '80000000' AS arm_a
                FROM events GROUP BY 1),
    lk(look, cut) AS (VALUES {looks}),
    st AS (SELECT * FROM pu CROSS JOIN lk WHERE first_ts <= cut),
    agg AS (SELECT look,
                   CAST(SUM(CASE WHEN arm_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                   CAST(SUM(CASE WHEN NOT arm_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                   CAST(SUM(CASE WHEN arm_a AND conv_ts <= cut THEN 1 ELSE 0 END)
                        AS BIGINT) AS conv_a,
                   CAST(SUM(CASE WHEN NOT arm_a AND conv_ts <= cut THEN 1 ELSE 0 END)
                        AS BIGINT) AS conv_b
            FROM st GROUP BY 1)
    SELECT look, n_a, n_b, conv_a, conv_b,
           ROUND(CASE WHEN (conv_a + conv_b) > 0 AND (conv_a + conv_b) < (n_a + n_b)
                 THEN (conv_a / CAST(n_a AS DOUBLE) - conv_b / CAST(n_b AS DOUBLE))
                      / sqrt((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE)
                             * (1.0 - (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                             * (1.0 / n_a + 1.0 / n_b)) END, 9) AS z_r,
           ROUND({c!r} * sqrt({float(k_total)!r} / look), 9) AS bound_r,
           ABS(COALESCE(CASE WHEN (conv_a + conv_b) > 0 AND (conv_a + conv_b) < (n_a + n_b)
                 THEN (conv_a / CAST(n_a AS DOUBLE) - conv_b / CAST(n_b AS DOUBLE))
                      / sqrt((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE)
                             * (1.0 - (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                             * (1.0 / n_a + 1.0 / n_b)) END, 0.0))
               >= {c!r} * sqrt({float(k_total)!r} / look) AS reject
    FROM agg
    """


@query("x168_sequential_ab", _x168_sql())
def x168_sequential_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-look O'Brien-Fleming sequential A/B on purchase conversion."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import sequential_ab

    ev = load_table(spark, sf_dir, "events")
    return sequential_ab(ev, _X168_LOOKS)


# --------------------------------------------------------------------------
# X169 — GDPR deletion-impact plan (operators/integrity.py
# deletion_impact_plan): per-day rewrite cost for the ~1% of users whose
# portable md5 lands under the threshold (stand-in for a deletion-
# request relation); subject list broadcasts, fact never shuffles.
# --------------------------------------------------------------------------
@query(
    "x169_delete_plan",
    """
    WITH subj AS (SELECT DISTINCT user_id FROM events
                  WHERE substr(md5(CAST(user_id AS VARCHAR) || '|erasure'), 1, 8)
                        < '028f5c28'),
    flagged AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                       CASE WHEN s.user_id IS NULL THEN 0 ELSE 1 END AS hit
                FROM events e LEFT JOIN subj s ON s.user_id = e.user_id)
    SELECT day, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(hit) AS BIGINT) AS affected_rows,
           CAST(SUM(hit) * 1000000 // COUNT(*) AS BIGINT) AS affected_ppm,
           SUM(hit) > 0 AS must_rewrite
    FROM flagged GROUP BY day
    """,
)
def x169_delete_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day rewrite plan for a 1% erasure-request cohort."""
    from dbms_data_anonymity_differential_privacy_spark.operators.integrity import (
        deletion_impact_plan,
    )

    ev = load_table(spark, sf_dir, "events")
    subjects = ev.select("user_id").where(
        F.substring(
            F.md5(
                F.concat_ws("|", F.col("user_id").cast("string"), F.lit("erasure")).cast(
                    "binary"
                )
            ),
            1,
            8,
        )
        < F.lit("028f5c28")
    )
    return deletion_impact_plan(
        ev,
        subjects,
        "user_id",
        F.date_trunc("day", F.col("ts")),
        partition_name="day",
    )


# --------------------------------------------------------------------------
# X170 — join-cardinality profile (operators/integrity.py
# join_cardinality_profile): predicted |orders ⋈ lineitem| and the top
# skew keys from the two slim per-key count relations — the fact tables
# never join.
# --------------------------------------------------------------------------
@query(
    "x170_join_cardinality",
    """
    WITH ca AS (SELECT o_orderkey AS key, COUNT(*) AS left_rows
                FROM orders GROUP BY 1),
    cb AS (SELECT l_orderkey AS key, COUNT(*) AS right_rows
           FROM lineitem GROUP BY 1),
    j AS (SELECT key, CAST(left_rows AS BIGINT) AS left_rows,
                 CAST(right_rows AS BIGINT) AS right_rows,
                 CAST(left_rows * right_rows AS BIGINT) AS pairs
          FROM ca JOIN cb USING (key))
    SELECT * FROM (SELECT * FROM j ORDER BY pairs DESC, key LIMIT 10)
    UNION ALL
    SELECT NULL AS key, CAST(SUM(left_rows) AS BIGINT),
           CAST(SUM(right_rows) AS BIGINT), CAST(SUM(pairs) AS BIGINT)
    FROM j
    """,
)
def x170_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicted orders⋈lineitem size + top skew keys, facts never join."""
    from dbms_data_anonymity_differential_privacy_spark.operators.integrity import (
        join_cardinality_profile,
    )

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return join_cardinality_profile(o, li, "o_orderkey", "l_orderkey", top=10)


# --------------------------------------------------------------------------
# X171 — k-center coreset (operators/embeddings.py kcenter_coreset):
# greedy farthest-point diversity selection over the embedding pool,
# k=8; dist = dot(x,x) - 2 dot(x,c) + dot(c,c) with sequential-fold
# dots (x04 bit-exactness contract), so the greedy trajectory replays
# identically from the unrolled oracle CTEs.
# --------------------------------------------------------------------------
def _kcenter_ctes(k: int = 8) -> list[str]:
    """The greedy k-center selection as chained CTEs — shared by the
    x171 trajectory oracle and the x175_auto self-blocking oracle (the
    same engine-exact selection feeds both). Every CTE is
    ``AS MATERIALIZED``: DuckDB inlines plain CTEs per reference, and a
    chain whose level r is referenced by both s{r+1} and d{r+1} (and by
    the x175_auto cent union) re-expands EXPONENTIALLY in k — measured
    63 s vs 0.1 s at sf0.01 for the x175_auto oracle. Values are
    unchanged; materialization is an evaluation-strategy hint only."""
    ctes = [
        "e AS MATERIALIZED (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,"
        " list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))"
        " AS xx FROM embeddings)",
        "s1 AS MATERIALIZED (SELECT id, v, xx FROM e ORDER BY id LIMIT 1)",
        "d1 AS MATERIALIZED (SELECT e.id, e.v, e.xx,"
        " e.xx - 2 * list_dot_product(e.v, s1.v) + s1.xx AS d"
        " FROM e CROSS JOIN s1)",
    ]
    for r in range(2, k + 1):
        ctes.append(
            f"s{r} AS MATERIALIZED (SELECT id, v, xx, d FROM d{r - 1}"
            f" ORDER BY d DESC, id LIMIT 1)"
        )
        if r < k:
            ctes.append(
                f"d{r} AS MATERIALIZED (SELECT p.id, p.v, p.xx,"
                f" LEAST(p.d, p.xx - 2 * list_dot_product(p.v, s{r}.v) + s{r}.xx) AS d"
                f" FROM d{r - 1} p CROSS JOIN s{r})"
            )
    return ctes


def _x171_sql(k: int = 8) -> str:
    ctes = _kcenter_ctes(k)
    sels = [
        "SELECT 1 AS round, s1.id AS vec_id, CAST(NULL AS DOUBLE) AS dist_r FROM s1"
    ] + [
        f"SELECT {r} AS round, s{r}.id AS vec_id, ROUND(s{r}.d, 6) AS dist_r FROM s{r}"
        for r in range(2, k + 1)
    ]
    return "WITH " + ", ".join(ctes) + " " + " UNION ALL ".join(sels)


@query("x171_kcenter", _x171_sql())
def x171_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy farthest-point 8-exemplar coreset of the embedding pool."""
    from dbms_data_anonymity_differential_privacy_spark.operators.embeddings import kcenter_coreset

    emb = load_table(spark, sf_dir, "embeddings")
    return kcenter_coreset(emb, k=8)


# --------------------------------------------------------------------------
# X172 — feature hashing (operators/text.py feature_hashing): signed
# 64-bucket hashing-trick features from the portable md5 of each token;
# integer-exact sparse matrix.
# --------------------------------------------------------------------------
@query(
    "x172_feature_hashing",
    r"""
    WITH tok AS (SELECT doc_id,
                        unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
                 FROM documents),
    h AS (SELECT doc_id, md5(w) AS hh FROM tok WHERE w <> ''),
    f AS (SELECT doc_id,
                 CAST('0x' || substr(hh, 1, 8) AS BIGINT) % 64 AS bucket,
                 CASE WHEN substr(hh, 9, 1) < '8' THEN 1 ELSE -1 END AS s
          FROM h)
    SELECT doc_id, bucket, CAST(SUM(s) AS BIGINT) AS feat
    FROM f GROUP BY 1, 2 HAVING SUM(s) <> 0
    """,
)
def x172_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed 64-bucket hashed bag-of-words features per document."""
    from dbms_data_anonymity_differential_privacy_spark.operators.text import feature_hashing

    d = load_table(spark, sf_dir, "documents")
    return feature_hashing(d, n_buckets=64)


# --------------------------------------------------------------------------
# X174 — leakage-safe train/validation split (operators/dedup.py
# leakage_safe_split): whole near-dup components (x03 CC machinery) hash
# to one side via the portable md5 fraction, so near-duplicates never
# straddle the split — the internal-eval counterpart of x18
# decontamination.
# --------------------------------------------------------------------------
@query(
    "x174_leakage_safe_split",
    r"""
    WITH RECURSIVE t AS (SELECT doc_id,
                string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
    sh AS (SELECT doc_id, list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 2, 0)),
           i -> array_to_string(toks[i:i+2], ' '))) AS s FROM t),
    e AS (SELECT doc_id, len(s) AS ns, unnest(s) AS shingle FROM sh),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ns AS na, b.ns AS nb,
                 COUNT(*) AS inter
          FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4),
    pe AS (SELECT id_a, id_b FROM p WHERE ROUND(inter / (na + nb - inter), 9) >= 0.2),
    -- exact-text pair source: star edges to the min-id holder of each
    -- md5(text) group -- covers identical docs shorter than the shingle
    -- width, which produce zero shingles and never reach pe. NULL texts
    -- excluded (they must stay independent singletons, not one fused
    -- component).
    ex AS (SELECT MIN(doc_id) OVER (PARTITION BY md5(text)) AS id_a,
                  doc_id AS id_b
           FROM documents WHERE text IS NOT NULL),
    pu AS (SELECT id_a, id_b FROM pe
           UNION ALL SELECT id_a, id_b FROM ex WHERE id_a < id_b),
    sym AS (SELECT id_a AS a, id_b AS b FROM pu
            UNION ALL SELECT id_b AS a, id_a AS b FROM pu),
    reach(id, anc) AS (SELECT DISTINCT a AS id, a AS anc FROM sym
                       UNION
                       SELECT s.b AS id, r.anc FROM reach r JOIN sym s ON s.a = r.id),
    comp AS (SELECT id, MIN(anc) AS comp FROM reach GROUP BY id),
    assigned AS (SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS component
             FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
    SELECT doc_id, component,
           CASE WHEN CAST('0x' || substr(md5(CAST(component AS VARCHAR) || '|split'), 1, 8)
                          AS BIGINT) < 429496729
                THEN 'valid' ELSE 'train' END AS split
    FROM assigned
    """,
)
def x174_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-component-aware train/valid split (J >= 0.2 trigram
    components, 10% validation by component hash)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import leakage_safe_split

    d = load_table(spark, sf_dir, "documents")
    return leakage_safe_split(d, threshold=0.2, n=3, valid_frac=0.1)


# --------------------------------------------------------------------------
# X175 — SemDeDup-style embedding-level corpus dedup (operators/dedup.py
# semantic_dedup): cosine >= t pairs inside the label block (the
# coarse-quantizer stand-in), whole duplicate clusters (connected
# components) collapse to the min-id representative.
# --------------------------------------------------------------------------
@query(
    "x175_semantic_dedup",
    f"""
    WITH RECURSIVE pe AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE ROUND({_duck_cos('a.embedding', 'b.embedding')}, 6) >= 0.6),
    sym AS (SELECT id_a AS a, id_b AS b FROM pe
            UNION ALL SELECT id_b AS a, id_a AS b FROM pe),
    reach(id, anc) AS (SELECT DISTINCT a AS id, a AS anc FROM sym
                       UNION
                       SELECT s.b AS id, r.anc FROM reach r JOIN sym s ON s.a = r.id),
    comp AS (SELECT id, MIN(anc) AS comp FROM reach GROUP BY id)
    SELECT e.vec_id,
           COALESCE(c.comp, e.vec_id) AS component,
           COALESCE(c.comp, e.vec_id) = e.vec_id AS kept
    FROM embeddings e LEFT JOIN comp c ON c.id = e.vec_id
    """,
)
def x175_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup clusters collapsed to min-id
    representatives (cos >= 0.6, label-blocked)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import semantic_dedup

    e = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(e, threshold=0.6, block_col="label")


# --------------------------------------------------------------------------
# X175-auto — SELF-BLOCKING SemDeDup (operators/dedup.py semantic_dedup
# with block_col=None): the unlabeled-corpus path. Blocks are derived
# from the data — the greedy k-center coreset (x171 machinery, engine-
# exact trajectory) picks 8 spread exemplars and every embedding is
# assigned to its nearest center (squared L2, ties to the earlier
# round). Pairs are scored inside the derived blocks only — no
# crossJoin anywhere (plan-gated). The oracle replays the identical
# selection (shared _kcenter_ctes), assignment (ROW_NUMBER over (d, r)),
# blocked cosine pairs, and recursive-closure components. Threshold 0.4:
# the synthetic embeddings' max pair cosine is ~0.51, so the release has
# real multi-member components to discriminate on.
# --------------------------------------------------------------------------
def _x175_auto_sql(k: int = 8, thr: float = 0.4) -> str:
    ctes = _kcenter_ctes(k)
    cent = " UNION ALL ".join(
        f"SELECT {r} AS r, v, xx FROM s{r}" for r in range(1, k + 1)
    )
    ctes += [
        f"cent AS MATERIALIZED ({cent})",
        "dists AS MATERIALIZED (SELECT e.id, c.r,"
        " e.xx - 2 * list_dot_product(e.v, c.v) + c.xx AS d"
        " FROM e CROSS JOIN cent c)",
        "asg AS MATERIALIZED (SELECT id, r AS blk FROM (SELECT id, r,"
        " ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, r) AS rn"
        " FROM dists) WHERE rn = 1)",
        "eb AS MATERIALIZED (SELECT e2.vec_id AS id, e2.embedding AS emb, a.blk"
        " FROM embeddings e2 JOIN asg a ON a.id = e2.vec_id)",
        f"pe AS (SELECT a.id AS id_a, b.id AS id_b"
        f" FROM eb a JOIN eb b ON a.blk = b.blk AND a.id < b.id"
        f" WHERE ROUND({_duck_cos('a.emb', 'b.emb')}, 6) >= {thr})",
        "sym AS (SELECT id_a AS a, id_b AS b FROM pe"
        " UNION ALL SELECT id_b AS a, id_a AS b FROM pe)",
        "reach(id, anc) AS (SELECT DISTINCT a AS id, a AS anc FROM sym"
        " UNION"
        " SELECT s.b AS id, r.anc FROM reach r JOIN sym s ON s.a = r.id)",
        "comp AS (SELECT id, MIN(anc) AS comp FROM reach GROUP BY id)",
    ]
    return (
        "WITH RECURSIVE "
        + ", ".join(ctes)
        + " SELECT e.vec_id, COALESCE(c.comp, e.vec_id) AS component,"
        " COALESCE(c.comp, e.vec_id) = e.vec_id AS kept"
        " FROM embeddings e LEFT JOIN comp c ON c.id = e.vec_id"
    )


@query("x175_semantic_dedup_auto", _x175_auto_sql())
def x175_semantic_dedup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup on an UNLABELED corpus: blocks derived from the k-center
    coreset (k=8), cosine >= 0.4 pairs inside derived blocks, min-id
    representatives."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import semantic_dedup

    e = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(e, threshold=0.4, block_col=None, auto_block_k=8)


# --------------------------------------------------------------------------
# X176 — corpus-level duplicated-line removal (operators/dedup.py
# dedup_lines_corpus): the CCNet/RefinedWeb paragraph-dedup stage —
# corpus-wide, only the canonical first occurrence (min (doc_id, pos))
# of each line survives, documents are rebuilt from their kept lines.
# The fixture's documents are single-line token streams, so the query
# first reshapes each into 4-token lines (deterministic segmentation —
# ~6% of segments are corpus-duplicated at sf0.01, a real dedup load);
# the md5 whole-text witness pins the rebuilt documents byte-identical.
# --------------------------------------------------------------------------
_X176_SEG_W = 4


@query(
    "x176_line_dedup",
    f"""
    WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
               FROM documents),
    e AS (SELECT doc_id, unnest(toks) AS tok,
                 unnest(range(1, len(toks) + 1)) AS pos FROM t),
    l AS (SELECT doc_id, CAST(floor((pos - 1) / {_X176_SEG_W}) AS BIGINT) AS lpos,
                 string_agg(tok, ' ' ORDER BY pos) AS line
          FROM e GROUP BY doc_id, CAST(floor((pos - 1) / {_X176_SEG_W}) AS BIGINT)),
    k AS (SELECT doc_id, lpos, line,
                 ROW_NUMBER() OVER (PARTITION BY trim(line)
                                    ORDER BY doc_id, lpos) AS rn,
                 length(trim(line)) AS nl
          FROM l),
    kept AS (SELECT doc_id, lpos, line FROM k WHERE nl < 1 OR rn = 1),
    r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                 string_agg(line, chr(10) ORDER BY lpos) AS txt
          FROM kept GROUP BY doc_id),
    a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines FROM l GROUP BY doc_id)
    SELECT a.doc_id, a.n_lines, CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
           md5(COALESCE(r.txt, '')) AS text_hash
    FROM a LEFT JOIN r USING (doc_id)
    """,
)
def x176_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus line dedup: 4-token segmentation, first-occurrence
    retention, per-doc rebuilt-text md5 witness."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import dedup_lines_corpus

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    nseg = F.ceil(F.size(toks) / F.lit(_X176_SEG_W)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), F.greatest(nseg, F.lit(1)) - 1),
        lambda i: F.array_join(F.slice(toks, i * _X176_SEG_W + 1, _X176_SEG_W), " "),
    )
    shaped = docs.select("doc_id", F.array_join(segs, "\n").alias("text"))
    return dedup_lines_corpus(shaped, text_col="text", id_col="doc_id")


# --------------------------------------------------------------------------
# X177 — Johnson–Lindenstrauss random projection (operators/embeddings.py
# random_project): Rademacher +-1/sqrt(out_dim) matrix re-derived from md5
# parity, so the oracle replays the IDENTICAL matrix as literal arrays and
# every projected double is a sequential fold == list_dot_product. Map-only
# (zero shuffles); out_dim=16 divides by 4.0 exactly so the engine's
# multiply-by-inverse and the SQL's divide are bit-identical.
# --------------------------------------------------------------------------
def _x177_sql(in_dim: int = 64, out_dim: int = 16, seed: str = "rp") -> str:
    from dbms_data_anonymity_differential_privacy_spark.operators.embeddings import rp_sign_matrix

    m = rp_sign_matrix(in_dim, out_dim, seed)
    rows = ", ".join(
        f"(CAST({j} AS INTEGER), [{', '.join(str(s) for s in row)}]::DOUBLE[])"
        for j, row in enumerate(m)
    )
    return f"""
    WITH s(dim, signs) AS (VALUES {rows})
    SELECT e.vec_id, s.dim,
           ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), s.signs)
                 * (1.0 / sqrt({float(out_dim)!r})), 9) AS value
    FROM embeddings e CROSS JOIN s
    WHERE e.embedding IS NOT NULL AND len(e.embedding) = {in_dim}
    """


@query("x177_random_projection", _x177_sql())
def x177_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL projection of the 64-dim embeddings to 16 dims, long-form
    (vec_id, dim, value) release."""
    from dbms_data_anonymity_differential_privacy_spark.operators.embeddings import random_project

    emb = load_table(spark, sf_dir, "embeddings")
    return random_project(emb, in_dim=64, out_dim=16)


# --------------------------------------------------------------------------
# X178 — winnowing fingerprints + MOSS-style match pairs (operators/
# dedup.py winnow_match_pairs). The SELECTION depends on hash ORDER, so
# the hash is md5 hex of the space-joined k-gram — a portable total
# order both engines compare identically (engine-native 64-bit hashes
# disagree across engines). Rightmost-min tie-break == min(struct(h,
# -pos)) in both dialects. Stop-fingerprints (df > max_df) are dropped
# before the pair join — the hot-key guard AND the MOSS relevance rule.
# --------------------------------------------------------------------------
_X178 = {"k": 4, "w": 4, "max_df": 50, "min_shared": 3}


@query(
    "x178_winnowing",
    f"""
    WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
               FROM documents),
    e AS (SELECT doc_id, toks,
                 unnest(range(0, greatest(len(toks) - {_X178["k"]} + 1, 0))) AS pos
          FROM t),
    g AS (SELECT doc_id, pos,
                 md5(array_to_string(toks[pos + 1 : pos + {_X178["k"]}], ' ')) AS h
          FROM e),
    w AS (SELECT doc_id, pos,
                 min(struct_pack(h := h, np := -pos)) OVER
                   (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN CURRENT ROW AND {_X178["w"] - 1} FOLLOWING) AS m,
                 count(*) OVER (PARTITION BY doc_id) AS G
          FROM g),
    sel AS (SELECT DISTINCT doc_id, m.h AS h FROM w
            WHERE pos <= greatest(G - {_X178["w"]}, 0)),
    freq AS (SELECT h FROM sel GROUP BY h HAVING count(*) <= {_X178["max_df"]}),
    ok AS (SELECT sel.doc_id, sel.h FROM sel JOIN freq USING (h))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_shared
    FROM ok a JOIN ok b USING (h)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= {_X178["min_shared"]}
    """,
)
def x178_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) content-overlap candidates: k=4-gram md5 hashes,
    w=4 windows, rightmost-min selection, stop-fingerprint cap df<=50,
    pairs sharing >= 3 distinct fingerprints."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import winnow_match_pairs

    docs = load_table(spark, sf_dir, "documents")
    return winnow_match_pairs(docs, **_X178)


# --------------------------------------------------------------------------
# X179 — Pettitt changepoint test (operators/stats.py pettitt_test) on
# the daily shipped-quantity series. Exactly integer until the final
# p-value: 2·midrank for a tie group at sorted positions a..a+c−1 is
# 2a+c−1, so U_t = Σ2R − t(n+1) is exact int64 on both engines; the one
# scalar exp on the released row follows the x79 EXP+ROUND(9) contract.
# Daily sums of l_quantity are integer-valued doubles (TPC-H quantities
# are 1..50), so the cast to BIGINT is exact in any summation order.
# --------------------------------------------------------------------------
@query(
    "x179_pettitt",
    """
    WITH d AS (SELECT CAST(floor(date_diff('second', TIMESTAMP '1970-01-01',
                                            l_shipdate) / 86400) AS BIGINT) AS t,
                      CAST(SUM(l_quantity) AS BIGINT) AS v
               FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1),
    r AS (SELECT t,
                 2 * rank() OVER (ORDER BY v)
                   + count(*) OVER (PARTITION BY v) - 1 AS r2,
                 count(*) OVER () AS n
          FROM d),
    u AS (SELECT t, n, row_number() OVER (ORDER BY t) AS i,
                 SUM(r2) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW)
                   - row_number() OVER (ORDER BY t) * (n + 1) AS u
          FROM r QUALIFY i <= n - 1),
    b AS (SELECT n, u, abs(u) AS k, t,
                 row_number() OVER (ORDER BY abs(u) DESC, t ASC) AS rn
          FROM u QUALIFY rn = 1)
    SELECT CAST(n AS BIGINT) AS n_periods, CAST(k AS BIGINT) AS k_stat,
           CAST(u AS BIGINT) AS u_at_change, t AS change_t,
           ROUND(LEAST(1.0, 2.0 * EXP(-6.0 * CAST(k AS DOUBLE) * CAST(k AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                    + CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))), 9) AS p_r
    FROM b
    """,
)
def x179_pettitt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt rank changepoint on daily shipped quantity: exact-integer
    U statistics, first-argmax changepoint day, Pettitt p approximation."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import pettitt_test

    li = load_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.floor(F.unix_timestamp("l_shipdate") / F.lit(86400)).alias("t")
    ).agg(F.sum("l_quantity").cast("long").alias("v"))
    return pettitt_test(daily, "t", "v")


# --------------------------------------------------------------------------
# X180 — MMR diversified re-ranking (operators/similarity.py mmr_rerank):
# the greedy is sequential per query, so the oracle UNROLLS the k=5
# selection as 5 CTE stages — each stage row_numbers the surviving
# candidates by (score DESC, id ASC) exactly as the engine's strict->
# scan does. Float contract: rel/sim are ROUND(cos, 6) BEFORE the greedy
# on both engines — 6 dp inputs make every score an exactly-7-decimal
# value, so the 9 dp release rounding never sits on a half-way boundary
# (9 dp inputs put 0.7*rel exactly ON boundaries ~1/10 of the time and
# Spark's BigDecimal HALF_UP vs DuckDB's binary std::round flipped one
# value at sf0.1); lam and (1 - lam) are embedded via Python repr so the
# SQL parses the IDENTICAL doubles (1.0 - 0.7 is 0.30000000000000004 —
# a DECIMAL 0.3 literal would diverge); the score is two IEEE multiplies
# and a subtract on those shared doubles.
# --------------------------------------------------------------------------
_X180 = {"query_mod": 20, "n_cand": 12, "k": 5, "lam": 0.7}


def _x180_sql(query_mod: int = 20, n_cand: int = 12, k: int = 5, lam: float = 0.7) -> str:
    lam_s = f"CAST({lam!r} AS DOUBLE)"
    oml_s = f"CAST({1.0 - lam!r} AS DOUBLE)"
    stages = []
    prev_union = None
    for i in range(1, k + 1):
        if i == 1:
            stages.append(
                f"""s1 AS (SELECT q_id, 1 AS rank, c_id, score FROM (
        SELECT q_id, c_id, {lam_s} * rel AS score,
               ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY {lam_s} * rel DESC, c_id) AS rn
        FROM cand) WHERE rn = 1)"""
            )
            prev_union = "s1"
        else:
            stages.append(
                f"""u{i - 1} AS (SELECT * FROM {prev_union}),
    s{i} AS (SELECT q_id, {i} AS rank, c_id, score FROM (
        SELECT c.q_id, c.c_id,
               {lam_s} * c.rel - {oml_s} * COALESCE(m.ms, 0.0) AS score,
               ROW_NUMBER() OVER (PARTITION BY c.q_id
                   ORDER BY {lam_s} * c.rel - {oml_s} * COALESCE(m.ms, 0.0) DESC,
                            c.c_id) AS rn
        FROM cand c
        LEFT JOIN (SELECT p.q_id, p.id_a AS c_id, max(p.sim) AS ms
                   FROM sims p JOIN u{i - 1} s
                     ON p.q_id = s.q_id AND p.id_b = s.c_id
                   GROUP BY 1, 2) m
          ON c.q_id = m.q_id AND c.c_id = m.c_id
        WHERE NOT EXISTS (SELECT 1 FROM u{i - 1} s
                          WHERE s.q_id = c.q_id AND s.c_id = c.c_id)
        ) WHERE rn = 1)"""
            )
            prev_union = f"(SELECT * FROM u{i - 1} UNION ALL SELECT * FROM s{i})"
    final_union = " UNION ALL ".join(f"SELECT * FROM s{i}" for i in range(1, k + 1))
    return f"""
    WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label,
                         sqrt(list_dot_product(
                             CAST(embedding AS DOUBLE[]),
                             CAST(embedding AS DOUBLE[]))) AS n
                  FROM embeddings),
    r0 AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id, c.v AS cv, c.n AS cn,
                  ROUND(CASE WHEN q.n * c.n <> 0
                        THEN list_dot_product(q.v, c.v) / (q.n * c.n) END, 6) AS rel
           FROM base q JOIN base c
             ON q.label = c.label AND q.vec_id <> c.vec_id
           WHERE q.vec_id % {query_mod} = 0),
    cand AS (SELECT q_id, c_id, cv, cn, rel FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                             ORDER BY rel DESC, c_id) AS rn
               FROM r0 WHERE rel IS NOT NULL) WHERE rn <= {n_cand}),
    sims AS (SELECT x.q_id, x.c_id AS id_a, y.c_id AS id_b,
                    ROUND(CASE WHEN x.cn * y.cn <> 0
                          THEN list_dot_product(x.cv, y.cv) / (x.cn * y.cn) END, 6) AS sim
             FROM cand x JOIN cand y
               ON x.q_id = y.q_id AND x.c_id <> y.c_id),
    {",".join(stages)}
    SELECT q_id, CAST(rank AS INTEGER) AS rank, c_id,
           ROUND(score, 9) AS score_r
    FROM ({final_union})
    """


@query("x180_mmr_rerank", _x180_sql(**_X180))
def x180_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified top-5 per query (queries = vec_id % 20 == 0,
    label-blocked top-12 candidates, lam=0.7): cogrouped-applyInPandas
    greedy, oracle = 5 unrolled SQL stages."""
    from dbms_data_anonymity_differential_privacy_spark.operators.similarity import (
        mmr_rerank_embeddings,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return mmr_rerank_embeddings(emb, **_X180)


# --------------------------------------------------------------------------
# X181 — embedding distribution drift (operators/embeddings.py
# embedding_drift): PSI + total variation between two populations over
# the 8-bit sign-pattern cells of the deterministic RP projection (the
# x177 matrix, seed 'drift'). Laplace smoothing over the DENSE 256-cell
# spine — unobserved cells still contribute. PSI rounds at 6 dp (the
# x145/x154 libm-sum contract), TV at 9.
# --------------------------------------------------------------------------
def _x181_sql(in_dim: int = 64, bits: int = 8, seed: str = "drift") -> str:
    from dbms_data_anonymity_differential_privacy_spark.operators.embeddings import rp_sign_matrix

    m = rp_sign_matrix(in_dim, bits, seed)
    rows = ", ".join(
        f"(CAST({j} AS INTEGER), [{', '.join(str(s) for s in row)}]::DOUBLE[])"
        for j, row in enumerate(m)
    )
    n_cells = 2 ** bits
    return f"""
    WITH s(dim, signs) AS (VALUES {rows}),
    p AS (SELECT e.vec_id, s.dim,
                 ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), s.signs)
                       * (1.0 / sqrt({float(bits)!r})), 9) AS value
          FROM embeddings e CROSS JOIN s
          WHERE e.embedding IS NOT NULL AND len(e.embedding) = {in_dim}),
    cells AS (SELECT vec_id,
                     CAST(SUM(CASE WHEN value >= 0
                          THEN CAST(power(2, dim) AS BIGINT) ELSE 0 END) AS BIGINT) AS cell,
                     CAST(max(vec_id % 2) AS BOOLEAN) AS b
              FROM p GROUP BY vec_id),
    counts AS (SELECT cell,
                      SUM(CASE WHEN NOT b THEN 1 ELSE 0 END) AS ca,
                      SUM(CASE WHEN b THEN 1 ELSE 0 END) AS cb
               FROM cells GROUP BY cell),
    spine AS (SELECT unnest(range(0, {n_cells})) AS cell),
    dense AS (SELECT spine.cell, COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
              FROM spine LEFT JOIN counts ON spine.cell = counts.cell),
    tot AS (SELECT SUM(ca) AS n_a, SUM(cb) AS n_b FROM dense),
    sm AS (SELECT ca, cb, n_a, n_b,
                  CAST(ca + 1 AS DOUBLE) / CAST(n_a + {n_cells} AS DOUBLE) AS p,
                  CAST(cb + 1 AS DOUBLE) / CAST(n_b + {n_cells} AS DOUBLE) AS q
           FROM dense CROSS JOIN tot)
    SELECT CAST(MAX(n_a) AS BIGINT) AS n_a, CAST(MAX(n_b) AS BIGINT) AS n_b,
           CAST(SUM(CASE WHEN ca > 0 THEN 1 ELSE 0 END) AS BIGINT) AS cells_a,
           CAST(SUM(CASE WHEN cb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS cells_b,
           ROUND(SUM((p - q) * ln(p / q)), 6) AS psi_r,
           ROUND(0.5 * SUM(ABS(p - q)), 9) AS tv_r
    FROM sm
    """


@query("x181_embedding_drift", _x181_sql())
def x181_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift between even- and odd-id populations: 8-bit RP
    sign cells, Laplace-smoothed PSI + TV over the dense 256-cell spine."""
    from dbms_data_anonymity_differential_privacy_spark.operators.embeddings import (
        embedding_drift,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_drift(emb, (F.col("vec_id") % 2) == 1, in_dim=64, bits=8)


# --------------------------------------------------------------------------
# X182 — split-conformal prediction intervals (operators/stats.py
# split_conformal): per-segment mean predictor fit on the even-id
# calibration half, conformal k = ceil((n+1)(1-alpha)) order statistic,
# held-out coverage on the odd-id half. The predictor is rounded at 6 dp
# BEFORE residuals form, so every residual is an exact IEEE subtraction
# of shared doubles; (1 - alpha) is embedded via repr and CAST AS DOUBLE
# so DuckDB multiplies the same double instead of a DECIMAL 0.9.
# --------------------------------------------------------------------------
_X182_ALPHA = 0.1


@query(
    "x182_split_conformal",
    f"""
    WITH rws AS (SELECT c_mktsegment AS seg, CAST(c_acctbal AS DOUBLE) AS y,
                        c_custkey AS id
                 FROM customer WHERE c_acctbal IS NOT NULL),
    cal AS (SELECT * FROM rws WHERE id % 2 = 0),
    ev  AS (SELECT * FROM rws WHERE id % 2 = 1),
    st AS (SELECT seg, ROUND(SUM(y) / COUNT(*), 6) AS yhat,
                  COUNT(*) AS n_cal,
                  CAST(ceil((COUNT(*) + 1) * CAST({1.0 - _X182_ALPHA!r} AS DOUBLE))
                       AS BIGINT) AS k
           FROM cal GROUP BY seg),
    calr AS (SELECT cal.seg, ABS(cal.y - st.yhat) AS r, cal.id, st.k
             FROM cal JOIN st USING (seg)),
    q AS (SELECT seg, r AS q FROM (
            SELECT seg, r, k,
                   ROW_NUMBER() OVER (PARTITION BY seg ORDER BY r, id) AS rn
            FROM calr) WHERE rn = k),
    pg AS (SELECT st.seg, st.yhat, st.n_cal, q.q FROM st LEFT JOIN q USING (seg)),
    evr AS (SELECT ev.seg, ABS(ev.y - pg.yhat) AS r, pg.q
            FROM ev JOIN pg USING (seg)),
    cov AS (SELECT seg, COUNT(*) AS n_eval,
                   ROUND(SUM(CASE WHEN r <= q THEN 1 ELSE 0 END) * 1.0
                         / COUNT(*), 9) AS coverage_r
            FROM evr GROUP BY seg)
    SELECT pg.seg AS c_mktsegment, CAST(pg.n_cal AS BIGINT) AS n_cal,
           CAST(COALESCE(cov.n_eval, 0) AS BIGINT) AS n_eval,
           ROUND(pg.q, 6) AS q_r,
           CASE WHEN pg.q IS NOT NULL THEN cov.coverage_r END AS coverage_r
    FROM pg LEFT JOIN cov USING (seg)
    """,
)
def x182_split_conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal 90% intervals for account balance per market
    segment: parity split, group-mean predictor, conformal order
    statistic, held-out coverage."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import split_conformal

    c = load_table(spark, sf_dir, "customer")
    return split_conformal(
        c, "c_acctbal", ["c_mktsegment"], "c_custkey", alpha=_X182_ALPHA
    )


# --------------------------------------------------------------------------
# X183 — reciprocal (mutual) k-NN pairs (operators/similarity.py
# mutual_knn_pairs): the high-precision dedup edge set — b in a's top-m
# AND a in b's. Pure composition on the x04 directed top-m relation
# (<= n*m rows), then one reversed-key equi-join of that slim relation
# with itself; oracle reuses the x04 SQL shape verbatim plus the join.
# --------------------------------------------------------------------------
@query(
    "x183_mutual_knn",
    f"""
    WITH p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                      ROUND({{DCOS}}, 6) AS cos
               FROM embeddings a JOIN embeddings b
                 ON a.label = b.label AND a.vec_id <> b.vec_id),
    r AS (SELECT id_a, id_b, cos,
                 CAST(ROW_NUMBER() OVER (PARTITION BY id_a
                      ORDER BY cos DESC NULLS LAST, id_b) AS INTEGER) AS rnk
          FROM p),
    d AS (SELECT id_a, id_b, cos, rnk FROM r WHERE rnk <= 5)
    SELECT d.id_a, d.id_b, d.cos, d.rnk AS rank_ab, e.rnk AS rank_ba
    FROM d JOIN d e ON d.id_a = e.id_b AND d.id_b = e.id_a
    WHERE d.id_a < d.id_b
    """,
)
def x183_mutual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual top-5 cosine neighbors within label blocks: hub-robust
    high-confidence near-dup edges with both directed ranks."""
    from dbms_data_anonymity_differential_privacy_spark.operators.similarity import (
        mutual_knn_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return mutual_knn_pairs(emb, m=5, block_col="label", impl="sql")


ORACLE_SQL["x183_mutual_knn"] = ORACLE_SQL["x183_mutual_knn"].replace(
    "{DCOS}", _duck_cos("a.embedding", "b.embedding")
)


# --------------------------------------------------------------------------
# X184 — Good–Turing unseen mass + Chao1 richness (operators/text.py
# good_turing_stats): exact integer frequency-spectrum ratios per
# language, rounded at 6 dp.
# --------------------------------------------------------------------------
@query(
    "x184_good_turing",
    """
    WITH e AS (SELECT lang,
                      unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
               FROM documents),
    tf AS (SELECT lang, t, COUNT(*) AS c FROM e WHERE t <> '' GROUP BY lang, t),
    spec AS (SELECT lang, SUM(c) AS n_tokens, COUNT(*) AS vocab,
                    SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS v1,
                    SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS v2
             FROM tf GROUP BY lang)
    SELECT lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(vocab AS BIGINT) AS vocab,
           CAST(v1 AS BIGINT) AS v1, CAST(v2 AS BIGINT) AS v2,
           ROUND(CAST(v1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS gt_unseen_r,
           ROUND(1.0 - CAST(v1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS coverage_r,
           ROUND(CAST(vocab AS DOUBLE)
                 + CAST(v1 AS DOUBLE) * (CAST(v1 AS DOUBLE) - 1.0)
                   / (2.0 * (CAST(v2 AS DOUBLE) + 1.0)), 6) AS chao1_r
    FROM spec
    """,
)
def x184_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good–Turing unseen-token mass, type coverage, and Chao1 richness
    floor per language."""
    from dbms_data_anonymity_differential_privacy_spark.operators.text import good_turing_stats

    docs = load_table(spark, sf_dir, "documents")
    return good_turing_stats(docs, group_cols=["lang"])


# --------------------------------------------------------------------------
# X185 — Heaps' law vocabulary-growth fit (operators/text.py heaps_fit):
# the growth curve is exact (first-doc-per-type counting, one point per
# document in id order); the log-log OLS sums libm ln values on both
# engines (x145/x154 contract) and releases beta/K at 6 dp.
# --------------------------------------------------------------------------
@query(
    "x185_heaps_fit",
    """
    WITH e AS (SELECT doc_id,
                      unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
               FROM documents),
    e2 AS (SELECT doc_id, t FROM e WHERE t <> ''),
    pd AS (SELECT doc_id, COUNT(*) AS nt FROM e2 GROUP BY doc_id),
    fd AS (SELECT t, MIN(doc_id) AS fdoc FROM e2 GROUP BY t),
    nv AS (SELECT fdoc AS doc_id, COUNT(*) AS nv FROM fd GROUP BY fdoc),
    curve AS (SELECT pd.doc_id,
                     SUM(pd.nt) OVER (ORDER BY pd.doc_id ROWS BETWEEN
                         UNBOUNDED PRECEDING AND CURRENT ROW) AS N,
                     SUM(COALESCE(nv.nv, 0)) OVER (ORDER BY pd.doc_id ROWS BETWEEN
                         UNBOUNDED PRECEDING AND CURRENT ROW) AS V
              FROM pd LEFT JOIN nv USING (doc_id)),
    c2 AS (SELECT * FROM curve WHERE N > 0 AND V > 0),
    s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                 SUM(ln(CAST(N AS DOUBLE))) AS sx,
                 SUM(ln(CAST(V AS DOUBLE))) AS sy,
                 SUM(ln(CAST(N AS DOUBLE)) * ln(CAST(N AS DOUBLE))) AS sxx,
                 SUM(ln(CAST(N AS DOUBLE)) * ln(CAST(V AS DOUBLE))) AS sxy,
                 MAX(N) AS n_tokens, MAX(V) AS vocab
          FROM c2)
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(vocab AS BIGINT) AS vocab,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS beta_r,
           ROUND(EXP(sy / n - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
                 * (sx / n)), 6) AS k_r
    FROM s
    """,
)
def x185_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps' law V = K*N^beta fit over the exact per-document
    vocabulary-growth curve."""
    from dbms_data_anonymity_differential_privacy_spark.operators.text import heaps_fit

    docs = load_table(spark, sf_dir, "documents")
    return heaps_fit(docs)


# --------------------------------------------------------------------------
# X186 — streaming drift monitor, batch twin (streaming/drift.py
# drift_windows_batch): per-day PSI of the event-type mix vs the global
# reference. The engine embeds the reference as exact integer literals
# (one driver collect of the tiny type histogram — the kcenter idiom);
# the oracle computes the same integers inline, so both sides divide and
# ln identical doubles. Laplace smoothing over B = len(ref)+1 buckets
# (OTHER absorbs unseen/NULL types); PSI rounds at 6 dp.
# --------------------------------------------------------------------------
@query(
    "x186_stream_drift",
    """
    WITH ref AS (SELECT event_type, COUNT(*) AS c FROM events
                 WHERE event_type IS NOT NULL GROUP BY 1),
    rt AS (SELECT COUNT(*) + 1 AS b, SUM(c) AS rn FROM ref),
    w AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
                 event_type
          FROM events),
    wc AS (SELECT window_start, COUNT(*) AS n FROM w GROUP BY 1),
    tc0 AS (SELECT window_start, event_type, COUNT(*) AS c FROM w
            WHERE event_type IS NOT NULL GROUP BY 1, 2),
    grid AS (SELECT wc.window_start, wc.n, r.c AS ref_c, COALESCE(tc0.c, 0) AS c
             FROM wc CROSS JOIN ref r
             LEFT JOIN tc0 ON tc0.window_start = wc.window_start
                          AND tc0.event_type = r.event_type),
    terms AS (SELECT window_start, n,
                     SUM(((CAST(c AS DOUBLE) + 1.0) / (CAST(n AS DOUBLE) + CAST(rt.b AS DOUBLE))
                          - CAST(ref_c + 1 AS DOUBLE) / CAST(rt.rn + rt.b AS DOUBLE))
                         * ln(((CAST(c AS DOUBLE) + 1.0) / (CAST(n AS DOUBLE) + CAST(rt.b AS DOUBLE)))
                              / (CAST(ref_c + 1 AS DOUBLE) / CAST(rt.rn + rt.b AS DOUBLE)))) AS psi_m,
                     SUM(c) AS msum
              FROM grid CROSS JOIN rt GROUP BY 1, 2),
    full_psi AS (SELECT t.window_start, t.n,
                        t.psi_m
                        + ((CAST(t.n - t.msum AS DOUBLE) + 1.0)
                           / (CAST(t.n AS DOUBLE) + CAST(rt.b AS DOUBLE))
                           - 1.0 / CAST(rt.rn + rt.b AS DOUBLE))
                          * ln(((CAST(t.n - t.msum AS DOUBLE) + 1.0)
                                / (CAST(t.n AS DOUBLE) + CAST(rt.b AS DOUBLE)))
                               / (1.0 / CAST(rt.rn + rt.b AS DOUBLE))) AS psi
                 FROM terms t CROSS JOIN rt)
    SELECT window_start, CAST(n AS BIGINT) AS n_events, ROUND(psi, 6) AS psi_r
    FROM full_psi
    """,
)
def x186_stream_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day PSI of the event-type mix vs the corpus-wide reference —
    batch twin of the streaming drift monitor (stream ≡ batch pinned in
    pytest)."""
    from dbms_data_anonymity_differential_privacy_spark.streaming.drift import (
        drift_windows_batch,
        reference_counts,
    )

    ev = load_table(spark, sf_dir, "events")
    ref = reference_counts(ev)
    return drift_windows_batch(ev, ref, window="1 day")


# --------------------------------------------------------------------------
# X188 — stationary distribution of the event-type Markov chain
# (operators/stats.py markov_stationary): the x72 counts row-normalized
# with UNROUNDED exact-int divisions, dangling states self-looped,
# uniform start, 20 unrolled power-iteration steps. The engine iterates
# driver-side on the collected |S|^2 summary (the kcenter idiom); the
# oracle unrolls the same 20 steps as CTEs — summation-order last-bit
# differences are absorbed by the 9 dp release rounding.
# --------------------------------------------------------------------------
def _x188_sql(n_iter: int = 20) -> str:
    steps = []
    for i in range(1, n_iter + 1):
        prev = "pi0" if i == 1 else f"pi{i - 1}"
        steps.append(
            f"""pi{i} AS (SELECT pm.t AS state, SUM({prev}.p * pm.pr) AS p
            FROM {prev} JOIN pm ON pm.f = {prev}.state GROUP BY 1)"""
        )
    return f"""
    WITH pr0 AS (SELECT user_id, event_type,
                        LAG(event_type) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id) AS from_type
                 FROM events),
    c AS (SELECT from_type, event_type AS to_type, COUNT(*) AS cnt
          FROM pr0 WHERE from_type IS NOT NULL GROUP BY 1, 2),
    states AS (SELECT DISTINCT s FROM
                 (SELECT from_type AS s FROM c UNION SELECT to_type FROM c)),
    rt AS (SELECT from_type, SUM(cnt) AS tot FROM c GROUP BY 1),
    pm AS (SELECT c.from_type AS f, c.to_type AS t,
                  CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE) AS pr
           FROM c JOIN rt USING (from_type)
           UNION ALL
           SELECT s, s, 1.0 FROM states
           WHERE s NOT IN (SELECT from_type FROM rt)),
    ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM states),
    pi0 AS (SELECT s AS state, 1.0 / ns.n AS p FROM states CROSS JOIN ns),
    {",".join(steps)}
    SELECT states.s AS state, ROUND(COALESCE(pi{n_iter}.p, 0.0), 9) AS pi_r
    FROM states LEFT JOIN pi{n_iter} ON pi{n_iter}.state = states.s
    """


@query("x188_markov_stationary", _x188_sql())
def x188_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-run event-type share: 20 power-iteration steps on the
    empirical transition chain, dangling states self-looped."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import markov_stationary

    ev = load_table(spark, sf_dir, "events")
    return markov_stationary(ev, n_iter=20)


# --------------------------------------------------------------------------
# X189 — per-class classification eval (operators/text.py
# classification_eval) applied to the x05 language-ID predictions
# against the documents.lang gold column: exact integer tp/n_gold/n_pred
# per class over the UNION of gold and predicted labels, one division
# each for P and R, harmonic-mean F1, 9 dp. Shares the x05 score CTE.
# --------------------------------------------------------------------------
@query(
    "x189_langid_eval",
    f"""
    WITH {{LANG_SCORE_CTE}},
    pr AS (SELECT lang AS g,
                  CASE WHEN GREATEST(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'und'
                       WHEN s_en = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'en'
                       WHEN s_de = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'de'
                       WHEN s_fr = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'fr'
                       WHEN s_es = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'es'
                       ELSE 'zh' END AS p
           FROM ls),
    gold AS (SELECT g AS label, COUNT(*) AS n_gold FROM pr GROUP BY 1),
    pred AS (SELECT p AS label, COUNT(*) AS n_pred FROM pr GROUP BY 1),
    tp AS (SELECT g AS label, COUNT(*) AS tp FROM pr WHERE g = p GROUP BY 1),
    classes AS (SELECT DISTINCT label FROM
                  (SELECT label FROM gold UNION ALL SELECT label FROM pred)),
    j AS (SELECT c.label,
                 CAST(COALESCE(gold.n_gold, 0) AS BIGINT) AS n_gold,
                 CAST(COALESCE(pred.n_pred, 0) AS BIGINT) AS n_pred,
                 CAST(COALESCE(tp.tp, 0) AS BIGINT) AS tp
          FROM classes c
          LEFT JOIN gold USING (label)
          LEFT JOIN pred USING (label)
          LEFT JOIN tp USING (label)),
    m AS (SELECT *,
                 CASE WHEN n_pred > 0
                      THEN CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE) END AS p,
                 CASE WHEN n_gold > 0
                      THEN CAST(tp AS DOUBLE) / CAST(n_gold AS DOUBLE) END AS r
          FROM j)
    SELECT label, n_gold, n_pred, tp,
           ROUND(p, 9) AS precision_r,
           ROUND(r, 9) AS recall_r,
           ROUND(CASE WHEN COALESCE(p, 0.0) + COALESCE(r, 0.0) > 0
                 THEN 2.0 * COALESCE(p, 0.0) * COALESCE(r, 0.0)
                      / (COALESCE(p, 0.0) + COALESCE(r, 0.0)) END, 9) AS f1_r
    FROM m
    """,
)
def x189_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 of the n-gram language-ID heuristic
    against the gold lang column."""
    from dbms_data_anonymity_differential_privacy_spark.operators import text as tx
    from dbms_data_anonymity_differential_privacy_spark.operators.text import classification_eval

    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select("lang", tx.lang_id(F.col("text")).alias("lang_pred"))
    return classification_eval(pairs, "lang", "lang_pred")


ORACLE_SQL["x189_langid_eval"] = ORACLE_SQL["x189_langid_eval"].replace(
    "{LANG_SCORE_CTE}", _LANG_SCORE_CTE
)


# --------------------------------------------------------------------------
# X190 — PMI collocations (operators/text.py pmi_collocations): top
# bigram collocations by pointwise mutual information in RATIO form
# (c_xy*N / (c_x*c_y) — exp(PMI), monotone, so no logs anywhere); exact
# int64 counts, one IEEE expression, total-order top-30.
# --------------------------------------------------------------------------
@query(
    "x190_pmi_collocations",
    r"""
    WITH t AS (SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                  x -> x <> '') AS toks
               FROM documents),
    bb AS (SELECT unnest(toks[1:len(toks) - 1]) AS w1,
                  unnest(toks[2:len(toks)]) AS w2
           FROM t WHERE len(toks) >= 2),
    pc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy FROM bb GROUP BY 1, 2),
    nn AS (SELECT CAST(SUM(c_xy) AS BIGINT) AS n FROM pc),
    cx AS (SELECT w1, CAST(SUM(c_xy) AS BIGINT) AS c_x FROM pc GROUP BY 1),
    cy AS (SELECT w2, CAST(SUM(c_xy) AS BIGINT) AS c_y FROM pc GROUP BY 1)
    SELECT pc.w1, pc.w2, pc.c_xy, cx.c_x, cy.c_y,
           ROUND(CAST(pc.c_xy AS DOUBLE) * CAST(nn.n AS DOUBLE)
                 / (CAST(cx.c_x AS DOUBLE) * CAST(cy.c_y AS DOUBLE)), 6)
             AS pmi_lift_r
    FROM pc JOIN cx USING (w1) JOIN cy USING (w2) CROSS JOIN nn
    WHERE pc.c_xy >= 5
    ORDER BY pmi_lift_r DESC, w1, w2 LIMIT 30
    """,
)
def x190_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 bigram collocations by PMI lift (min pair count 5)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.text import pmi_collocations

    docs = load_table(spark, sf_dir, "documents")
    return pmi_collocations(docs, min_count=5, top=30)


# --------------------------------------------------------------------------
# X191 — Cohen's kappa (operators/stats.py cohens_kappa): chance-
# corrected agreement of the n-gram language-ID heuristic against the
# gold lang column — the inter-annotator-agreement statistic, all-
# rational over the x189 confusion matrix.
# --------------------------------------------------------------------------
@query(
    "x191_cohens_kappa",
    """
    WITH {LANG_SCORE_CTE},
    pr AS (SELECT lang AS g,
                  CASE WHEN GREATEST(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'und'
                       WHEN s_en = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'en'
                       WHEN s_de = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'de'
                       WHEN s_fr = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'fr'
                       WHEN s_es = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'es'
                       ELSE 'zh' END AS p
           FROM ls),
    cm AS (SELECT g, p, CAST(COUNT(*) AS BIGINT) AS c FROM pr GROUP BY 1, 2),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN g = p THEN c ELSE 0 END) AS BIGINT) AS n_agree
            FROM cm),
    gm AS (SELECT g, SUM(c) AS gc FROM cm GROUP BY 1),
    pm AS (SELECT p, SUM(c) AS pc FROM cm GROUP BY 1),
    ch AS (SELECT CAST(SUM(gm.gc * pm.pc) AS BIGINT) AS s
           FROM gm JOIN pm ON pm.p = gm.g)
    SELECT n, n_agree,
           ROUND(CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE), 9) AS po_r,
           ROUND(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 9)
             AS pe_r,
           ROUND(CASE WHEN CAST(s AS DOUBLE)
                           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) < 1.0
                      THEN (CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE)
                            - CAST(s AS DOUBLE)
                              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                           / (1.0 - CAST(s AS DOUBLE)
                              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) END, 9)
             AS kappa_r
    FROM tot CROSS JOIN ch
    """,
)
def x191_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa of lang-ID prediction vs the gold lang column."""
    from dbms_data_anonymity_differential_privacy_spark.operators import text as tx
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import cohens_kappa

    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select("lang", tx.lang_id(F.col("text")).alias("lang_pred"))
    return cohens_kappa(pairs, "lang", "lang_pred")


# --------------------------------------------------------------------------
# X193 — selection-rate fairness audit (operators/stats.py
# selection_rate_parity): statistical parity difference + disparate-
# impact ratio (four-fifths rule) of urgent-priority ordering across
# market segments — all-rational group rates.
# --------------------------------------------------------------------------
@query(
    "x193_parity",
    """
    WITH j AS (SELECT c.c_mktsegment AS c_mktsegment,
                      CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                           THEN 1 ELSE 0 END AS sel
               FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
    per AS (SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(sel) AS BIGINT) AS n_selected
            FROM j GROUP BY 1),
    r AS (SELECT c_mktsegment, n, n_selected,
                 CAST(n_selected AS DOUBLE) / CAST(n AS DOUBLE) AS rate
          FROM per),
    g AS (SELECT CAST(SUM(n_selected) AS BIGINT) AS ts,
                 CAST(SUM(n) AS BIGINT) AS tn, MAX(rate) AS mx
          FROM r)
    SELECT c_mktsegment, n, n_selected,
           ROUND(rate, 9) AS rate_r,
           ROUND(CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE), 9) AS overall_rate_r,
           ROUND(rate - CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE), 9)
             AS parity_diff_r,
           ROUND(CASE WHEN mx > 0 THEN rate / mx END, 9) AS di_ratio_r
    FROM r CROSS JOIN g
    """,
)
def x193_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Urgent-order selection-rate parity across market segments."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import (
        selection_rate_parity,
    )

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        "c_mktsegment",
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("sel"),
    )
    return selection_rate_parity(j, "c_mktsegment", "sel")


# --------------------------------------------------------------------------
# X194 — Holt double-exponential smoothing (operators/stats.py
# holt_linear): per-type daily trend-aware forecast as an in-row JVM
# fold (state = array(level, trend)); the oracle replays the identical
# IEEE fold via list_reduce with the same decimal literals.
# --------------------------------------------------------------------------
def _x194_sql(alpha: float = 0.3, beta: float = 0.1) -> str:
    la, lb = repr(float(alpha)), repr(float(beta))
    l1a, l1b = repr(1.0 - float(alpha)), repr(1.0 - float(beta))
    lp = f"({la} * e[1] + {l1a} * (s[1] + s[2]))"
    return f"""
    WITH c AS (SELECT event_type,
                      CAST(date_trunc('day', ts) AS TIMESTAMP) AS b,
                      CAST(COUNT(*) AS BIGINT) AS x
               FROM events GROUP BY 1, 2),
    s AS (SELECT event_type, list(CAST(x AS DOUBLE) ORDER BY b) AS v
          FROM c GROUP BY 1),
    f AS (SELECT event_type, len(v) AS nb,
                 list_reduce(list_prepend([v[1], v[2] - v[1]],
                             list_transform(v[3:], x -> [x, 0.0])),
                     (s, e) -> [{lp},
                                {lb} * ({lp} - s[1]) + {l1b} * s[2]]) AS st
          FROM s WHERE len(v) >= 2)
    SELECT event_type, CAST(nb AS BIGINT) AS n_buckets,
           ROUND(st[1], 9) AS level_r, ROUND(st[2], 9) AS trend_r,
           ROUND(st[1] + 1.0 * st[2], 9) AS fc1_r,
           ROUND(st[1] + 7.0 * st[2], 9) AS fc7_r
    FROM f
    """


@query("x194_holt", _x194_sql())
def x194_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt level+trend forecast of daily per-type event counts."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import holt_linear

    ev = load_table(spark, sf_dir, "events")
    return holt_linear(
        ev, ["event_type"], ts_col="ts", bucket="day", alpha=0.3, beta=0.1,
        horizons=(1, 7),
    )


# --------------------------------------------------------------------------
# X195 — per-node local clustering coefficient (operators/graph.py
# local_clustering) of the x138 co-purchase graph: Watts-Strogatz lcc
# via the Suri-Vassilvitskii oriented wedge join, corners credited by
# one explode. Oracle = the plain canonical-edge triple join.
# --------------------------------------------------------------------------
@query(
    "x195_local_clustering",
    """
    WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
    pr AS (SELECT a.i AS x, b.i AS y FROM items a
           JOIN items b ON a.b = b.b AND a.i < b.i
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS degree
            FROM (SELECT x AS v FROM pr UNION ALL SELECT y AS v FROM pr)
            GROUP BY 1),
    tri AS (SELECT e1.x AS a, e1.y AS b, e2.y AS c
            FROM pr e1 JOIN pr e2 ON e2.x = e1.x AND e2.y > e1.y
            JOIN pr e3 ON e3.x = e1.y AND e3.y = e2.y),
    tn AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS n_tri
           FROM (SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
                 UNION ALL SELECT c FROM tri)
           GROUP BY 1)
    SELECT d.v AS node, d.degree, COALESCE(tn.n_tri, 0) AS n_tri,
           ROUND(2.0 * COALESCE(tn.n_tri, 0) / (d.degree * (d.degree - 1)), 9)
             AS lcc_r
    FROM deg d LEFT JOIN tn ON tn.v = d.v
    WHERE d.degree >= 2
    """,
)
def x195_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part local clustering coefficient on the co-purchase graph."""
    from dbms_data_anonymity_differential_privacy_spark.operators.graph import local_clustering

    # identical edge set to the shared basket builder (r7 equivalence:
    # 3,573 edges at sf0.1); the items self-join form it replaced
    # measured 1.48 s vs 1.20 s for the basket+posexplode build (r10)
    return local_clustering(_copurchase_part_edges(spark, sf_dir))


# --------------------------------------------------------------------------
# X196 — fixed-iteration integer HITS (operators/graph.py hits_int) over
# the x126 supplier->customer trade graph: hub/authority scores in
# integer ppb with a floor-division mass rescale per half-step — the
# same order-independence discipline as integer PageRank; the oracle
# replays all 8 rounds as chained CTEs.
# --------------------------------------------------------------------------
def _x196_sql(iters: int = 8) -> str:
    # e0 is referenced twice per round (16x at 8 iters): MATERIALIZED
    # stops DuckDB from inlining a fresh parquet scan per reference
    # (fd-limit blowup on the oracle side).
    ctes = [
        "e0 AS MATERIALIZED (SELECT DISTINCT l.l_suppkey AS src, o.o_custkey AS dst"
        " FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey)",
        "nodes AS MATERIALIZED (SELECT src AS node FROM e0 UNION SELECT dst FROM e0)",
        "nn AS (SELECT COUNT(*) AS n FROM nodes)",
        "h0 AS (SELECT node, CAST(1000000000 // nn.n AS BIGINT) AS s"
        " FROM nodes CROSS JOIN nn)",
    ]
    # every per-round CTE is referenced twice downstream (raw feeds both
    # the total and the rescale); without MATERIALIZED the references
    # inline recursively — 2^rounds plan blowup on the oracle side
    for i in range(1, iters + 1):
        ctes.append(
            f"ar{i} AS MATERIALIZED (SELECT e.dst AS node,"
            f" CAST(SUM(h.s) AS BIGINT) AS raw"
            f" FROM h{i - 1} h JOIN e0 e ON e.src = h.node GROUP BY 1)"
        )
        ctes.append(f"at{i} AS (SELECT CAST(SUM(raw) AS BIGINT) AS t FROM ar{i})")
        ctes.append(
            f"a{i} AS MATERIALIZED (SELECT node,"
            f" CAST(raw // (t // 1000000000 + 1) AS BIGINT)"
            f" AS s FROM ar{i} CROSS JOIN at{i})"
        )
        ctes.append(
            f"hr{i} AS MATERIALIZED (SELECT e.src AS node,"
            f" CAST(SUM(a.s) AS BIGINT) AS raw"
            f" FROM a{i} a JOIN e0 e ON e.dst = a.node GROUP BY 1)"
        )
        ctes.append(f"ht{i} AS (SELECT CAST(SUM(raw) AS BIGINT) AS t FROM hr{i})")
        ctes.append(
            f"h{i} AS MATERIALIZED (SELECT node,"
            f" CAST(raw // (t // 1000000000 + 1) AS BIGINT)"
            f" AS s FROM hr{i} CROSS JOIN ht{i})"
        )
    return (
        "WITH "
        + ", ".join(ctes)
        + f""" SELECT n.node, CAST(COALESCE(h.s, 0) AS BIGINT) AS hub_ppb,
                      CAST(COALESCE(a.s, 0) AS BIGINT) AS auth_ppb
               FROM nodes n
               LEFT JOIN h{iters} h ON h.node = n.node
               LEFT JOIN a{iters} a ON a.node = n.node"""
    )


@query("x196_hits", _x196_sql())
def x196_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-iteration integer HITS hub/authority scores over distinct
    supplier->customer edges."""
    from dbms_data_anonymity_differential_privacy_spark.operators.graph import hits_int

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(F.col("l_suppkey").alias("src"), F.col("o_custkey").alias("dst"))
        .distinct()
    )
    return hits_int(edges, iters=8)


ORACLE_SQL["x191_cohens_kappa"] = ORACLE_SQL["x191_cohens_kappa"].replace(
    "{LANG_SCORE_CTE}", _LANG_SCORE_CTE
)


# --------------------------------------------------------------------------
# X197 — two-group log-rank test (operators/stats.py logrank_test):
# the kaplan-meier companion hypothesis test; chi-square form (no
# sqrt), exact integer at-risk/death counts from the same per-distinct-
# time relation, cohorts = user-id parity.
# --------------------------------------------------------------------------
@query(
    "x197_logrank",
    """
    WITH pu AS (SELECT user_id,
                       MIN(date_diff('second', TIMESTAMP '1970-01-01', ts)) AS s0,
                       MAX(date_diff('second', TIMESTAMP '1970-01-01', ts)) AS s1,
                       MIN(CASE WHEN event_type = 'purchase'
                                THEN date_diff('second', TIMESTAMP '1970-01-01', ts)
                           END) AS sc
                FROM events GROUP BY 1),
    d0 AS (SELECT COALESCE(sc - s0, s1 - s0) AS t,
                  CASE WHEN sc IS NOT NULL THEN 1 ELSE 0 END AS ev,
                  CAST(user_id % 2 AS INT) AS g1
           FROM pu),
    g AS (SELECT t, SUM(ev) AS d, SUM(ev * g1) AS d1,
                 COUNT(*) AS obs, SUM(g1) AS obs1
          FROM d0 GROUP BY 1),
    s AS (SELECT *,
                 SUM(obs) OVER ()
                 - COALESCE(SUM(obs) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
                                           PRECEDING AND 1 PRECEDING), 0) AS n_risk,
                 SUM(obs1) OVER ()
                 - COALESCE(SUM(obs1) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
                                            PRECEDING AND 1 PRECEDING), 0) AS n1_risk
          FROM g),
    tm AS (SELECT d, d1,
                  CAST(d AS DOUBLE)
                  * (CAST(n1_risk AS DOUBLE) / CAST(n_risk AS DOUBLE)) AS e1,
                  CASE WHEN n_risk > 1
                       THEN CAST(d AS DOUBLE)
                            * (CAST(n1_risk AS DOUBLE) / CAST(n_risk AS DOUBLE))
                            * (1.0 - CAST(n1_risk AS DOUBLE) / CAST(n_risk AS DOUBLE))
                            * (CAST(n_risk AS DOUBLE) - CAST(d AS DOUBLE))
                            / (CAST(n_risk AS DOUBLE) - 1.0)
                       ELSE 0.0 END AS v
           FROM s WHERE d > 0),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(g1) AS BIGINT) AS n1
            FROM d0),
    ag AS (SELECT CAST(SUM(d) AS BIGINT) AS d, CAST(SUM(d1) AS BIGINT) AS d1,
                  SUM(CAST(d1 AS DOUBLE) - e1) AS ome, SUM(v) AS var FROM tm)
    SELECT n, n1, d, d1,
           ROUND(ome, 6) AS o_minus_e_r, ROUND(var, 6) AS var_r,
           ROUND(CASE WHEN var > 0 THEN ome * ome / var END, 6) AS chi2_r
    FROM tot CROSS JOIN ag
    """,
)
def x197_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test: does time-to-first-purchase differ between the
    odd and even user-id cohorts?"""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import (
        logrank_test,
        time_to_event,
    )

    ev = load_table(spark, sf_dir, "events")
    dur = time_to_event(ev, "purchase").withColumn(
        "grp", F.pmod(F.col("user_id"), F.lit(2)).cast("int")
    )
    return logrank_test(dur, group_col="grp")


# --------------------------------------------------------------------------
# X198 — bounded-iteration k-truss (operators/graph.py ktruss) of the
# x138 co-purchase graph: 3 peeling rounds of the 3-truss (edge
# triangle-support >= 1 within the surviving set — the 4-truss of this
# sparse graph is EMPTY, a 0-row release that would gate nothing),
# final support recount released — all integer, oracle replays the
# unrolled rounds.
# --------------------------------------------------------------------------
def _x198_sql(k: int = 4, rounds: int = 3) -> str:
    ms = int(k) - 2
    ctes = [
        "items AS MATERIALIZED (SELECT DISTINCT l_orderkey AS bk, l_partkey AS i"
        " FROM lineitem)",
        "e0 AS MATERIALIZED (SELECT a.i AS x, b.i AS y FROM items a"
        " JOIN items b ON a.bk = b.bk AND a.i < b.i"
        " GROUP BY 1, 2 HAVING COUNT(*) >= 2)",
    ]
    for r in range(rounds):
        ctes.append(
            f"tri{r} AS MATERIALIZED (SELECT e1.x AS a, e1.y AS b, e2.y AS c"
            f" FROM e{r} e1 JOIN e{r} e2 ON e2.x = e1.x AND e2.y > e1.y"
            f" JOIN e{r} e3 ON e3.x = e1.y AND e3.y = e2.y)"
        )
        ctes.append(
            f"sup{r} AS MATERIALIZED (SELECT x, y, COUNT(*) AS s FROM"
            f" (SELECT a AS x, b AS y FROM tri{r}"
            f"  UNION ALL SELECT a, c FROM tri{r}"
            f"  UNION ALL SELECT b, c FROM tri{r}) GROUP BY 1, 2)"
        )
        ctes.append(
            f"e{r + 1} AS MATERIALIZED (SELECT e.x, e.y FROM e{r} e"
            f" JOIN sup{r} s ON s.x = e.x AND s.y = e.y WHERE s.s >= {ms})"
        )
    ctes.append(
        f"trif AS MATERIALIZED (SELECT e1.x AS a, e1.y AS b, e2.y AS c"
        f" FROM e{rounds} e1 JOIN e{rounds} e2 ON e2.x = e1.x AND e2.y > e1.y"
        f" JOIN e{rounds} e3 ON e3.x = e1.y AND e3.y = e2.y)"
    )
    ctes.append(
        "supf AS MATERIALIZED (SELECT x, y, COUNT(*) AS s FROM"
        " (SELECT a AS x, b AS y FROM trif"
        "  UNION ALL SELECT a, c FROM trif"
        "  UNION ALL SELECT b, c FROM trif) GROUP BY 1, 2)"
    )
    return (
        "WITH "
        + ", ".join(ctes)
        + f""" SELECT e.x AS a, e.y AS b,
                      CAST(COALESCE(s.s, 0) AS BIGINT) AS support
               FROM e{rounds} e
               LEFT JOIN supf s ON s.x = e.x AND s.y = e.y"""
    )


@query("x198_ktruss", _x198_sql(k=3))
def x198_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-truss of the co-purchase graph after 3 peeling rounds."""
    from dbms_data_anonymity_differential_privacy_spark.operators.graph import ktruss

    # same shared basket edge builder as x195 (identical edge set to the
    # items self-join form it replaced; see _copurchase_part_edges)
    return ktruss(_copurchase_part_edges(spark, sf_dir), k=3, rounds=3)


# --------------------------------------------------------------------------
# X200 — Brown-Forsythe spread-equality test (operators/stats.py
# brown_forsythe): ANOVA F on |x - median_g| — the robust Levene
# variant run before trusting x110's equal-variance assumption; exact
# type-7 group medians (x22 contract), x110 sufficient-stats F.
# --------------------------------------------------------------------------
@query(
    "x200_brown_forsythe",
    """
    WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS m
                 FROM events GROUP BY 1),
    z AS (SELECT e.event_type, ABS(CAST(e.value AS DOUBLE) - med.m) AS z
          FROM events e JOIN med USING (event_type)),
    g AS (SELECT event_type, COUNT(*) AS n, SUM(z) AS s, SUM(z * z) AS ss
          FROM z GROUP BY 1),
    tot AS (SELECT SUM(n) AS n, COUNT(*) AS k, SUM(s) AS ts, SUM(ss) AS tss,
                   SUM(ss - s * s / n) AS ssw
            FROM g)
    SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
           ROUND(CASE WHEN k >= 2 AND ROUND(ssw, 6) > 0 THEN
                 (((tss - n * (ts / n) * (ts / n)) - ssw) / (k - 1))
                 / (ssw / (n - k)) END, 6) AS f_r
    FROM tot
    """,
)
def x200_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe: do event-value spreads differ across types?"""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import brown_forsythe

    ev = load_table(spark, sf_dir, "events")
    return brown_forsythe(ev, "value", "event_type")


# --------------------------------------------------------------------------
# X201 — weekly seasonal decomposition (operators/stats.py
# seasonal_decompose_dow): x = trend (centered 7-row MA) + day-of-week
# effect + residual over the observed-day spine; the detrended series
# scaled by 7 stays exact int64, so the per-dow mean is one IEEE
# division of exact integers.
# --------------------------------------------------------------------------
@query(
    "x201_seasonal_decompose",
    """
    WITH d AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                      CAST(COUNT(*) AS BIGINT) AS x
               FROM events GROUP BY 1),
    w AS (SELECT day, x,
                 SUM(x) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
                              AND 3 FOLLOWING) AS s7,
                 COUNT(x) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
                                AND 3 FOLLOWING) AS c7
          FROM d),
    f AS (SELECT day, x, CAST(s7 AS BIGINT) AS s7,
                 CAST(date_diff('day', DATE '1970-01-01', day) % 7 AS INT) AS dow,
                 7 * x - CAST(s7 AS BIGINT) AS det7
          FROM w WHERE c7 = 7),
    pd AS (SELECT dow, CAST(SUM(det7) AS BIGINT) AS sd,
                  CAST(COUNT(*) AS BIGINT) AS cd
           FROM f GROUP BY 1)
    SELECT f.day, f.x, f.dow,
           ROUND(CAST(f.s7 AS DOUBLE) / 7.0, 9) AS trend_r,
           ROUND(CAST(pd.sd AS DOUBLE) / (7.0 * CAST(pd.cd AS DOUBLE)), 9)
             AS seasonal_r,
           ROUND(CAST(f.x AS DOUBLE) - CAST(f.s7 AS DOUBLE) / 7.0
                 - CAST(pd.sd AS DOUBLE) / (7.0 * CAST(pd.cd AS DOUBLE)), 9)
             AS residual_r
    FROM f JOIN pd USING (dow)
    """,
)
def x201_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly additive decomposition of the daily event count."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import (
        seasonal_decompose_dow,
    )

    ev = load_table(spark, sf_dir, "events")
    return seasonal_decompose_dow(ev)


# --------------------------------------------------------------------------
# X202 — HyperLogLog distinct sketch (operators/sketch.py hll_distinct):
# portable-md5 registers (bucket = 12 bits, rank = hex leading-zero
# count of the next 52), so registers AND estimate are engine-exact —
# the mergeable production synopsis next to x60's KMV. Small-range
# linear counting applied; exact count rides along as quality audit.
# --------------------------------------------------------------------------
@query(
    "x202_hll_distinct",
    f"""
    WITH h AS (SELECT md5(CAST(l_partkey AS VARCHAR)) AS hh FROM lineitem),
    r AS (SELECT CAST('0x' || substr(hh, 1, 3) AS BIGINT) AS bucket,
                 regexp_replace(substr(hh, 4, 13), '^0+', '') AS rem
          FROM h),
    rk AS (SELECT bucket,
                  CASE WHEN rem = '' THEN 53
                       ELSE 4 * (13 - length(rem))
                            + (4 - CASE WHEN substr(rem, 1, 1) = '1' THEN 1
                                        WHEN substr(rem, 1, 1) IN ('2', '3') THEN 2
                                        WHEN substr(rem, 1, 1) IN ('4', '5', '6', '7')
                                             THEN 3
                                        ELSE 4 END) + 1 END AS rank
           FROM r),
    reg AS (SELECT bucket, MAX(rank) AS m FROM rk GROUP BY 1),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nonempty,
                 list_reduce(list_sort(list(power(2.0, -CAST(m AS DOUBLE)))),
                             (a, b) -> a + b) AS sum_nz
          FROM reg),
    e AS (SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_exact
          FROM lineitem)
    SELECT CAST(4096 AS BIGINT) AS m_registers, n_nonempty,
           ROUND((0.7211100396160289e0 * 4096.0 * 4096.0)
                 / (sum_nz + (4096.0 - CAST(n_nonempty AS DOUBLE))), 6)
             AS raw_est_r,
           ROUND(CASE WHEN (0.7211100396160289e0 * 4096.0 * 4096.0)
                           / (sum_nz + (4096.0 - CAST(n_nonempty AS DOUBLE)))
                           <= 10240.0
                       AND n_nonempty < 4096
                      THEN 4096.0 * LN(4096.0
                                       / (4096.0 - CAST(n_nonempty AS DOUBLE)))
                      ELSE (0.7211100396160289e0 * 4096.0 * 4096.0)
                           / (sum_nz + (4096.0 - CAST(n_nonempty AS DOUBLE)))
                 END, 6) AS est_r,
           n_exact
    FROM s CROSS JOIN e
    """,
)
def x202_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL(p=12) distinct-part estimate over lineitem part keys, with
    the exact count alongside."""
    from dbms_data_anonymity_differential_privacy_spark.operators.sketch import hll_distinct

    li = load_table(spark, sf_dir, "lineitem")
    return hll_distinct(li, "l_partkey", include_exact=True)


# --------------------------------------------------------------------------
# X203 — readability (operators/text.py readability_scores): Flesch
# reading ease + FK grade from the vowel-group syllable heuristic —
# map-only, plain character-class regexes identical across engines.
# --------------------------------------------------------------------------
@query(
    "x203_readability",
    r"""
    WITH b AS (SELECT doc_id,
                      CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                                           x -> x <> '')) AS BIGINT) AS n_words,
                      CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
                           AS BIGINT) AS n_sentences,
                      CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                           AS BIGINT) AS n_syllables
               FROM documents)
    SELECT doc_id, n_words, n_sentences, n_syllables,
           ROUND(CASE WHEN n_words > 0 THEN
                 206.835
                 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                 - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
                 END, 6) AS flesch_r,
           ROUND(CASE WHEN n_words > 0 THEN
                 0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                 + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
                 - 15.59 END, 6) AS fk_grade_r
    FROM b
    """,
)
def x203_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Flesch reading ease and Flesch-Kincaid grade."""
    from dbms_data_anonymity_differential_privacy_spark.operators.text import readability_scores

    docs = load_table(spark, sf_dir, "documents")
    return readability_scores(docs)


# --------------------------------------------------------------------------
# X204 — Cramér's V (operators/stats.py cramers_v): normalized effect
# size of nation × market-segment association — x71's telescoped
# full-grid chi-square plus the marginal cardinalities, one sqrt.
# --------------------------------------------------------------------------
@query(
    "x204_cramers_v",
    """
    WITH joint AS (SELECT c_nationkey AS a, c_mktsegment AS b, COUNT(*) AS cc
                   FROM customer
                   WHERE c_nationkey IS NOT NULL AND c_mktsegment IS NOT NULL
                   GROUP BY 1, 2),
    m AS (SELECT CAST(SUM(cc) AS BIGINT) AS n,
                 CAST(COUNT(DISTINCT a) AS BIGINT) AS r,
                 CAST(COUNT(DISTINCT b) AS BIGINT) AS c FROM joint),
    ma AS (SELECT a, SUM(cc) AS ca FROM joint GROUP BY 1),
    mb AS (SELECT b, SUM(cc) AS cb FROM joint GROUP BY 1),
    t AS (SELECT SUM(CAST(j.cc * j.cc AS DOUBLE) / CAST(ma.ca * mb.cb AS DOUBLE))
                   AS tt
          FROM joint j JOIN ma USING (a) JOIN mb USING (b))
    SELECT m.n, m.r, m.c,
           ROUND(CAST(m.n AS DOUBLE) * t.tt - CAST(m.n AS DOUBLE), 6) AS chi2_r,
           ROUND(CASE WHEN LEAST(m.r - 1, m.c - 1) >= 1 THEN
                 SQRT((CAST(m.n AS DOUBLE) * t.tt - CAST(m.n AS DOUBLE))
                      / (CAST(m.n AS DOUBLE)
                         * CAST(LEAST(m.r - 1, m.c - 1) AS DOUBLE))) END, 6)
             AS v_r
    FROM m CROSS JOIN t
    """,
)
def x204_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V of customer nation × market segment."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import cramers_v

    c = load_table(spark, sf_dir, "customer")
    return cramers_v(c, "c_nationkey", "c_mktsegment")


# --------------------------------------------------------------------------
# X205 — Cochran-Armitage trend test (operators/stats.py
# cochran_armitage): is the purchase rate monotonically associated with
# hour of day? Exact int64 score moments, chi-square form.
# --------------------------------------------------------------------------
@query(
    "x205_cochran_armitage",
    """
    WITH d AS (SELECT CAST(date_part('hour', ts) AS BIGINT) AS s,
                      CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS f
               FROM events),
    per AS (SELECT s, COUNT(*) AS n, SUM(f) AS r FROM d GROUP BY 1),
    a AS (SELECT CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(r) AS BIGINT) AS n_pos,
                 CAST(COUNT(*) AS BIGINT) AS k,
                 CAST(SUM(s * r) AS BIGINT) AS sr,
                 CAST(SUM(s * n) AS BIGINT) AS sn,
                 CAST(SUM(s * s * n) AS BIGINT) AS ssn
          FROM per)
    SELECT n, n_pos, k,
           ROUND(CAST(sr AS DOUBLE)
                 - CAST(sn AS DOUBLE) * (CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)),
                 6) AS t_r,
           ROUND((CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
                 * (1.0 - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(ssn AS DOUBLE)
                    - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE) / CAST(n AS DOUBLE)),
                 6) AS var_r,
           ROUND(CASE WHEN (CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
                           * (1.0 - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
                           * (CAST(ssn AS DOUBLE)
                              - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE)
                                / CAST(n AS DOUBLE)) > 0
                      THEN (CAST(sr AS DOUBLE)
                            - CAST(sn AS DOUBLE)
                              * (CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)))
                           * (CAST(sr AS DOUBLE)
                              - CAST(sn AS DOUBLE)
                                * (CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)))
                           / ((CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
                              * (1.0 - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
                              * (CAST(ssn AS DOUBLE)
                                 - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE)
                                   / CAST(n AS DOUBLE))) END, 6) AS chi2_r
    FROM a
    """,
)
def x205_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage: purchase-rate trend over hour of day."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import cochran_armitage

    ev = load_table(spark, sf_dir, "events")
    scored = ev.select(
        F.hour(F.col("ts")).alias("hr"),
        (F.col("event_type") == "purchase").alias("f"),
    )
    return cochran_armitage(scored, "hr", "f")


# --------------------------------------------------------------------------
# X206 — tokenizer fertility (operators/text.py token_fertility):
# BPE-ish subword tokens per whitespace word, per language — the
# tokenizer-fairness number (Rust et al. 2021); exact int64 token sums.
# --------------------------------------------------------------------------
@query(
    "x206_token_fertility",
    f"""
    WITH per AS (SELECT lang,
        CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                             x -> x <> '')) AS BIGINT) AS w,
        CAST(len(regexp_extract_all(text, '{_BPE_SQL}')) AS BIGINT) AS b
      FROM documents)
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(w) AS BIGINT) AS n_words,
           CAST(SUM(b) AS BIGINT) AS n_bpe_tokens,
           ROUND(CAST(SUM(b) AS DOUBLE) / CAST(SUM(w) AS DOUBLE), 9)
             AS fertility_r,
           ROUND(CAST(SUM(w) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9)
             AS avg_words_r
    FROM per GROUP BY 1
    """,
)
def x206_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language BPE-ish subword fertility over whitespace words."""
    from dbms_data_anonymity_differential_privacy_spark.operators.text import token_fertility

    docs = load_table(spark, sf_dir, "documents")
    return token_fertility(docs)


# --------------------------------------------------------------------------
# X207 — IPW average treatment effect (operators/stats.py ipw_ate):
# strata-exact propensities telescope the Horvitz-Thompson sum to the
# stratified estimator, so the engine aggregates exact integer CENT
# sums per market segment — no fact-row double summation anywhere.
# --------------------------------------------------------------------------
@query(
    "x207_ipw_ate",
    """
    WITH j AS (SELECT c.c_mktsegment AS g,
                      CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                        AS t,
                      CAST(ROUND(CAST(o.o_totalprice AS DOUBLE) * 100.0)
                           AS BIGINT) AS yc
               FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
    per AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(t) AS BIGINT) AS nt,
                   CAST(SUM(t * yc) AS BIGINT) AS syt,
                   CAST(SUM((1 - t) * yc) AS BIGINT) AS syc
            FROM j GROUP BY 1),
    k AS (SELECT *,
                 CAST(n AS DOUBLE)
                 * (CAST(syt AS DOUBLE) / (CAST(nt AS DOUBLE) * 100.0)
                    - CAST(syc AS DOUBLE) / (CAST(n - nt AS DOUBLE) * 100.0))
                   AS term
          FROM per WHERE nt > 0 AND nt < n),
    a AS (SELECT CAST(SUM(n) AS BIGINT) AS n_kept,
                 CAST(SUM(nt) AS BIGINT) AS n_treated,
                 CAST(SUM(n - nt) AS BIGINT) AS ncont,
                 CAST(SUM(syt) AS BIGINT) AS tsyt,
                 CAST(SUM(syc) AS BIGINT) AS tsyc,
                 list_reduce(list_sort(list(term)), (x, y) -> x + y) AS ate_sum
          FROM k),
    tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM j)
    SELECT n_total, n_kept, n_treated,
           ROUND(ate_sum / CAST(n_kept AS DOUBLE), 6) AS ate_ipw_r,
           ROUND(CAST(tsyt AS DOUBLE) / (CAST(n_treated AS DOUBLE) * 100.0)
                 - CAST(tsyc AS DOUBLE) / (CAST(ncont AS DOUBLE) * 100.0), 6)
             AS naive_diff_r
    FROM tt CROSS JOIN a
    """,
)
def x207_ipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPW ATE of urgent order priority on order value, stratified by
    market segment."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import ipw_ate

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        "c_mktsegment",
        (F.col("o_orderpriority") == "1-URGENT").alias("t"),
        "o_totalprice",
    )
    return ipw_ate(j, "t", "o_totalprice", "c_mktsegment", cents=True)


# --------------------------------------------------------------------------
# X208 — item-item CF neighbors (operators/stats.py item_cf_topk):
# cosine on basket co-occurrence counts, top-5 per part — the
# Sarwar/Amazon recommender; x102's normalized refinement.
# --------------------------------------------------------------------------
@query(
    "x208_item_cf",
    """
    WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
    pairs AS (SELECT a.i AS x, b.i AS y, CAST(COUNT(*) AS BIGINT) AS c_pair
              FROM items a JOIN items b ON a.b = b.b AND a.i < b.i
              GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    marg AS (SELECT i AS item, CAST(COUNT(*) AS BIGINT) AS c_item
             FROM items GROUP BY 1),
    bidir AS (SELECT x AS item, y AS other, c_pair FROM pairs
              UNION ALL SELECT y AS item, x AS other, c_pair FROM pairs),
    s AS (SELECT bo.item, bo.other, bo.c_pair, m1.c_item,
                 m2.c_item AS c_other,
                 ROUND(CAST(bo.c_pair AS DOUBLE)
                       / SQRT(CAST(m1.c_item AS DOUBLE)
                              * CAST(m2.c_item AS DOUBLE)), 6) AS cosine_r
          FROM bidir bo JOIN marg m1 ON m1.item = bo.item
          JOIN marg m2 ON m2.item = bo.other),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY item
                                       ORDER BY cosine_r DESC, other) AS rk
          FROM s)
    SELECT item, other, c_pair, c_item, c_other, cosine_r FROM r WHERE rk <= 5
    """,
)
def x208_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 item-item cosine CF neighbors on the co-purchase baskets."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import item_cf_topk

    li = load_table(spark, sf_dir, "lineitem")
    return item_cf_topk(li, "l_orderkey", "l_partkey", k=5, min_pair=2)


# --------------------------------------------------------------------------
# X209 — 2x2 odds ratio + Woolf CI (operators/stats.py odds_ratio_2x2):
# building-segment exposure vs urgent-priority outcome; Haldane
# correction when any cell is empty.
# --------------------------------------------------------------------------
@query(
    "x209_odds_ratio",
    """
    WITH j AS (SELECT (c.c_mktsegment = 'BUILDING') AS e,
                      (o.o_orderpriority = '1-URGENT') AS ou
               FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
    cells AS (SELECT
        COALESCE(CAST(SUM(CASE WHEN e AND ou THEN 1 ELSE 0 END) AS BIGINT), 0) AS a,
        COALESCE(CAST(SUM(CASE WHEN e AND NOT ou THEN 1 ELSE 0 END) AS BIGINT), 0) AS b,
        COALESCE(CAST(SUM(CASE WHEN NOT e AND ou THEN 1 ELSE 0 END) AS BIGINT), 0) AS c,
        COALESCE(CAST(SUM(CASE WHEN NOT e AND NOT ou THEN 1 ELSE 0 END) AS BIGINT), 0) AS d
      FROM j),
    h AS (SELECT *,
                 (a = 0 OR b = 0 OR c = 0 OR d = 0) AS corrected,
                 CAST(a AS DOUBLE) + CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0
                                          THEN 0.5 ELSE 0.0 END AS ad,
                 CAST(b AS DOUBLE) + CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0
                                          THEN 0.5 ELSE 0.0 END AS bd,
                 CAST(c AS DOUBLE) + CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0
                                          THEN 0.5 ELSE 0.0 END AS cd,
                 CAST(d AS DOUBLE) + CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0
                                          THEN 0.5 ELSE 0.0 END AS dd
          FROM cells)
    SELECT a, b, c, d, corrected,
           ROUND(ad * dd / (bd * cd), 6) AS or_r,
           ROUND(LN(ad * dd / (bd * cd)), 6) AS log_or_r,
           ROUND(EXP(LN(ad * dd / (bd * cd))
                     - 1.96 * SQRT(1.0 / ad + 1.0 / bd + 1.0 / cd + 1.0 / dd)),
                 6) AS ci_lo_r,
           ROUND(EXP(LN(ad * dd / (bd * cd))
                     + 1.96 * SQRT(1.0 / ad + 1.0 / bd + 1.0 / cd + 1.0 / dd)),
                 6) AS ci_hi_r
    FROM h
    """,
)
def x209_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Odds ratio of urgent priority for BUILDING-segment customers."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import odds_ratio_2x2

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        (F.col("c_mktsegment") == "BUILDING").alias("e"),
        (F.col("o_orderpriority") == "1-URGENT").alias("ou"),
    )
    return odds_ratio_2x2(j, "e", "ou")


# --------------------------------------------------------------------------
# X210 — McNemar paired-classifier test (operators/stats.py
# mcnemar_test): full 5-probe language-ID vs the en-only ablation on
# the SAME documents — only the discordant cells matter.
# --------------------------------------------------------------------------
@query(
    "x210_mcnemar",
    """
    WITH {LANG_SCORE_CTE},
    pr AS (SELECT lang,
                  CASE WHEN GREATEST(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'und'
                       WHEN s_en = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'en'
                       WHEN s_de = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'de'
                       WHEN s_fr = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'fr'
                       WHEN s_es = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'es'
                       ELSE 'zh' END AS p,
                  CASE WHEN s_en > 0 THEN 'en' ELSE 'und' END AS q
           FROM ls),
    d AS (SELECT (p = lang) AS ca, (q = lang) AS cb FROM pr),
    agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN ca AND cb THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_both,
                   CAST(SUM(CASE WHEN ca AND NOT cb THEN 1 ELSE 0 END) AS BIGINT)
                     AS b,
                   CAST(SUM(CASE WHEN NOT ca AND cb THEN 1 ELSE 0 END) AS BIGINT)
                     AS c
            FROM d)
    SELECT n, n_both, b, c,
           ROUND(CASE WHEN b + c > 0 THEN
                 (CAST(b AS DOUBLE) - CAST(c AS DOUBLE))
                 * (CAST(b AS DOUBLE) - CAST(c AS DOUBLE))
                 / (CAST(b AS DOUBLE) + CAST(c AS DOUBLE)) END, 6) AS chi2_r,
           ROUND(CASE WHEN b + c > 0 THEN
                 (ABS(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - 1.0)
                 * (ABS(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - 1.0)
                 / (CAST(b AS DOUBLE) + CAST(c AS DOUBLE)) END, 6) AS chi2_cc_r
    FROM agg
    """,
)
def x210_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar: does the 5-probe language-ID beat the en-only ablation
    on the same documents?"""
    from dbms_data_anonymity_differential_privacy_spark.operators import text as tx
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import mcnemar_test

    docs = load_table(spark, sf_dir, "documents")
    scores = tx.lang_scores(F.col("text"))
    pred_b = F.when(scores["en"] > 0, F.lit("en")).otherwise(F.lit("und"))
    pairs = docs.select(
        (tx.lang_id(F.col("text")) == F.col("lang")).alias("ca"),
        (pred_b == F.col("lang")).alias("cb"),
    )
    return mcnemar_test(pairs, "ca", "cb")


# --------------------------------------------------------------------------
# X211 — windowed distinct users, streaming twin (streaming/audience.py):
# exact per-day unique users; the stream composes dropDuplicates-
# WithinWatermark with a windowed count (two chained stateful ops), the
# batch twin is the oracle surface here.
# --------------------------------------------------------------------------
@query(
    "x211_distinct_users",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1
    """,
)
def x211_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact unique users per day (batch twin of the streaming
    audience metric)."""
    from dbms_data_anonymity_differential_privacy_spark.streaming.audience import (
        windowed_distinct_users_batch,
    )

    ev = load_table(spark, sf_dir, "events")
    return windowed_distinct_users_batch(ev, window="1 day")


ORACLE_SQL["x210_mcnemar"] = ORACLE_SQL["x210_mcnemar"].replace(
    "{LANG_SCORE_CTE}", _LANG_SCORE_CTE
)


# --------------------------------------------------------------------------
# X213 — restricted mean survival time (operators/stats.py rmst): area
# under the x79 KM curve up to a 7-day horizon — segment-wise exact
# integration over the per-distinct-time relation.
# --------------------------------------------------------------------------
@query(
    "x213_rmst",
    """
    WITH pu AS (SELECT user_id,
                       MIN(date_diff('second', TIMESTAMP '1970-01-01', ts)) AS s0,
                       MAX(date_diff('second', TIMESTAMP '1970-01-01', ts)) AS s1,
                       MIN(CASE WHEN event_type = 'purchase'
                                THEN date_diff('second', TIMESTAMP '1970-01-01', ts)
                           END) AS sc
                FROM events GROUP BY 1),
    d0 AS (SELECT CAST(COALESCE(sc - s0, s1 - s0) AS DOUBLE) AS t,
                  CASE WHEN sc IS NOT NULL THEN 1 ELSE 0 END AS ev FROM pu),
    g AS (SELECT t, SUM(ev) AS d, COUNT(*) AS obs FROM d0 GROUP BY 1),
    s AS (SELECT *, SUM(obs) OVER ()
                    - COALESCE(SUM(obs) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
                                              PRECEDING AND 1 PRECEDING), 0)
                      AS n_risk
          FROM g),
    f AS (SELECT *, 1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS fct
          FROM s),
    c AS (SELECT *,
                 MAX(CASE WHEN fct = 0.0 THEN 1 ELSE 0 END)
                     OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS dead,
                 SUM(CASE WHEN fct > 0.0 THEN LN(fct) ELSE 0.0 END)
                     OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS logsum
          FROM f),
    km AS (SELECT t, CASE WHEN dead = 1 THEN 0.0 ELSE EXP(logsum) END AS sv
           FROM c WHERE d > 0),
    seg AS (SELECT t, sv, LAG(t) OVER (ORDER BY t) AS t_prev,
                   LAG(sv) OVER (ORDER BY t) AS s_prev
            FROM km),
    m AS (SELECT COALESCE(SUM(CASE WHEN COALESCE(t_prev, 0.0) < 604800.0
                          THEN COALESCE(s_prev, 1.0)
                               * (LEAST(t, 604800.0) - COALESCE(t_prev, 0.0))
                          ELSE 0.0 END), 0.0) AS area,
                 CAST(COUNT(*) AS BIGINT) AS n_events_used
          FROM seg),
    tl AS (SELECT t, sv FROM km ORDER BY t DESC LIMIT 1),
    -- scalar subquery so a death-free cohort still yields ONE row:
    -- survival stays 1 through tau, rmst = tau (matches the engine)
    tail AS (SELECT COALESCE((SELECT CASE WHEN t < 604800.0
                                          THEN sv * (604800.0 - t)
                                          ELSE 0.0 END FROM tl),
                             604800.0) AS tlc),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d0)
    SELECT ROUND(604800.0, 6) AS tau_r, n, n_events_used,
           ROUND(area + tlc, 6) AS rmst_r
    FROM tot CROSS JOIN m CROSS JOIN tail
    """,
)
def x213_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean purchase-free time in the first 7 days (RMST at tau=7d)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import (
        rmst,
        time_to_event,
    )

    ev = load_table(spark, sf_dir, "events")
    return rmst(time_to_event(ev, "purchase"), tau=604800.0)


# --------------------------------------------------------------------------
# X214 — PCA projection (operators/embeddings.py pca_project): top-2
# principal components from the exact covariance (x68 sufficient-stats
# shape), eigendecomposed driver-side — rows-only by contract (no SQL
# eigensolver; same class as C3/C10), invariants in pytest.
# --------------------------------------------------------------------------
@query("x214_pca_project")
def x214_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings projected onto their top-2 principal components."""
    from dbms_data_anonymity_differential_privacy_spark.operators.embeddings import pca_project

    emb = load_table(spark, sf_dir, "embeddings")
    return pca_project(emb, k=2)


# --------------------------------------------------------------------------
# X215 — Wilson score intervals (operators/stats.py wilson_ci_rates):
# per-segment urgent-order rate with the recommended small-sample CI.
# --------------------------------------------------------------------------
def _x215_sql(z: float = 1.96) -> str:
    z2 = repr(z * z)
    zl = repr(float(z))
    return f"""
    WITH j AS (SELECT c.c_mktsegment AS c_mktsegment,
                      CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                        AS sel
               FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
    per AS (SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(sel) AS BIGINT) AS n_pos
            FROM j GROUP BY 1),
    e AS (SELECT *, CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS p,
                 1.0 + {z2} / CAST(n AS DOUBLE) AS den
          FROM per)
    SELECT c_mktsegment, n, n_pos,
           ROUND(p, 6) AS rate_r,
           ROUND((p + {z2} / (2.0 * CAST(n AS DOUBLE))) / den
                 - {zl} * SQRT(p * (1.0 - p) / CAST(n AS DOUBLE)
                               + {z2} / (4.0 * CAST(n AS DOUBLE)
                                         * CAST(n AS DOUBLE))) / den, 6)
             AS ci_lo_r,
           ROUND((p + {z2} / (2.0 * CAST(n AS DOUBLE))) / den
                 + {zl} * SQRT(p * (1.0 - p) / CAST(n AS DOUBLE)
                               + {z2} / (4.0 * CAST(n AS DOUBLE)
                                         * CAST(n AS DOUBLE))) / den, 6)
             AS ci_hi_r
    FROM e
    """


@query("x215_wilson_ci", _x215_sql())
def x215_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Urgent-order rate per market segment with Wilson 95% intervals."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import wilson_ci_rates

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        "c_mktsegment",
        (F.col("o_orderpriority") == "1-URGENT").alias("sel"),
    )
    return wilson_ci_rates(j, "c_mktsegment", "sel")


# --------------------------------------------------------------------------
# X216 — keyness / distinctive terms (operators/text.py keyness_llr):
# Dunning log-likelihood G² of English-slice tokens vs the rest —
# signed by direction, one conditional-count word shuffle.
# --------------------------------------------------------------------------
@query(
    "x216_keyness",
    r"""
    WITH tk AS (SELECT (lang = 'en') AS tg,
                       unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
                FROM documents),
    tk2 AS (SELECT tg, w FROM tk WHERE w <> ''),
    per AS (SELECT w AS token,
                   CAST(SUM(CASE WHEN tg THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_target,
                   CAST(SUM(CASE WHEN tg THEN 0 ELSE 1 END) AS BIGINT) AS n_rest
            FROM tk2 GROUP BY 1 HAVING COUNT(*) >= 5),
    tot AS (SELECT CAST(SUM(CASE WHEN tg THEN 1 ELSE 0 END) AS BIGINT) AS t1,
                   CAST(SUM(CASE WHEN tg THEN 0 ELSE 1 END) AS BIGINT) AS t2
            FROM tk2),
    g AS (SELECT token, n_target, n_rest,
                 CAST(n_target AS DOUBLE) AS o1, CAST(n_rest AS DOUBLE) AS o2,
                 CAST(t1 AS DOUBLE) AS t1, CAST(t2 AS DOUBLE) AS t2
          FROM per CROSS JOIN tot),
    s AS (SELECT token, n_target, n_rest,
                 2.0 * (CASE WHEN o1 > 0
                             THEN o1 * LN(o1 / (t1 * (o1 + o2) / (t1 + t2)))
                             ELSE 0.0 END
                        + CASE WHEN o2 > 0
                               THEN o2 * LN(o2 / (t2 * (o1 + o2) / (t1 + t2)))
                               ELSE 0.0 END) AS gg,
                 (o1 / t1 >= o2 / t2) AS up
          FROM g)
    SELECT token, n_target, n_rest,
           ROUND(CASE WHEN up THEN gg ELSE -gg END, 6) AS g2_r
    FROM s
    ORDER BY g2_r DESC, token LIMIT 30
    """,
)
def x216_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 tokens most distinctive of the English corpus slice."""
    from dbms_data_anonymity_differential_privacy_spark.operators.text import keyness_llr

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "__is_en", F.col("lang") == "en"
    )
    return keyness_llr(docs, "__is_en", min_count=5, top=30)


# --------------------------------------------------------------------------
# X217 — Mantel-Haenszel pooled odds ratio (operators/stats.py
# mantel_haenszel_or): urgent-priority vs order-status association,
# nation-adjusted — the Simpson's-paradox guard next to x209's crude OR.
# --------------------------------------------------------------------------
@query(
    "x217_mantel_haenszel",
    """
    WITH j AS (SELECT c.c_nationkey AS s,
                      (o.o_orderpriority = '1-URGENT') AS e,
                      (o.o_orderstatus = 'F') AS ou
               FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
    per AS (SELECT s,
                   CAST(SUM(CASE WHEN e AND ou THEN 1 ELSE 0 END) AS BIGINT) AS a,
                   CAST(SUM(CASE WHEN e AND NOT ou THEN 1 ELSE 0 END) AS BIGINT)
                     AS b,
                   CAST(SUM(CASE WHEN NOT e AND ou THEN 1 ELSE 0 END) AS BIGINT)
                     AS c,
                   CAST(SUM(CASE WHEN NOT e AND NOT ou THEN 1 ELSE 0 END)
                        AS BIGINT) AS d
            FROM j GROUP BY 1),
    t AS (SELECT a, b, c, d,
                 CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                   / CAST(a + b + c + d AS DOUBLE) AS num,
                 CAST(b AS DOUBLE) * CAST(c AS DOUBLE)
                   / CAST(a + b + c + d AS DOUBLE) AS den
          FROM per),
    agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_strata,
                   CAST(SUM(a) AS BIGINT) AS ta, CAST(SUM(b) AS BIGINT) AS tb,
                   CAST(SUM(c) AS BIGINT) AS tc, CAST(SUM(d) AS BIGINT) AS td,
                   list_reduce(list_sort(list(num)), (x, y) -> x + y) AS sn,
                   list_reduce(list_sort(list(den)), (x, y) -> x + y) AS sd
            FROM t)
    SELECT k_strata,
           ROUND(CASE WHEN sd > 0 THEN sn / sd END, 6) AS or_mh_r,
           ROUND(CASE WHEN tb > 0 AND tc > 0 THEN
                 CAST(ta AS DOUBLE) * CAST(td AS DOUBLE)
                 / (CAST(tb AS DOUBLE) * CAST(tc AS DOUBLE)) END, 6)
             AS or_crude_r
    FROM agg
    """,
)
def x217_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation-adjusted pooled odds ratio of urgent priority on
    finished-order status."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import (
        mantel_haenszel_or,
    )

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        "c_nationkey",
        (F.col("o_orderpriority") == "1-URGENT").alias("e"),
        (F.col("o_orderstatus") == "F").alias("ou"),
    )
    return mantel_haenszel_or(j, "c_nationkey", "e", "ou")


# --------------------------------------------------------------------------
# X218 — Theil-Sen robust trend (operators/stats.py theil_sen_slope):
# median pairwise slope of the daily event count — x143's magnitude
# companion; the pair join is calendar², constant at any corpus scale.
# --------------------------------------------------------------------------
@query(
    "x218_theil_sen",
    """
    WITH d AS (SELECT CAST(date_diff('day', DATE '1970-01-01',
                                     date_trunc('day', ts)) AS BIGINT) AS t,
                      CAST(COUNT(*) AS BIGINT) AS x
               FROM events GROUP BY 1),
    s AS (SELECT CAST(b.x - a.x AS DOUBLE) / CAST(b.t - a.t AS DOUBLE) AS sl
          FROM d a JOIN d b ON a.t < b.t),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
                 quantile_cont(sl, 0.5) AS slope FROM s),
    r AS (SELECT m.n_pairs, m.slope,
                 CAST(d.x AS DOUBLE) - m.slope * CAST(d.t AS DOUBLE) AS res
          FROM d CROSS JOIN m)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days, n_pairs,
           ROUND(slope, 6) AS slope_r,
           ROUND(quantile_cont(res, 0.5), 6) AS intercept_r
    FROM r GROUP BY n_pairs, slope
    """,
)
def x218_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen slope/intercept of the daily event-count trend."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import theil_sen_slope

    ev = load_table(spark, sf_dir, "events")
    return theil_sen_slope(ev)


# --------------------------------------------------------------------------
# X219 — Qini uplift curve (operators/stats.py qini_curve): cumulative
# incremental conversions by score decile — decile_lift's uplift cousin;
# exact int64 counts, one scaling division per row.
# --------------------------------------------------------------------------
@query(
    "x219_qini",
    """
    WITH pu AS (SELECT user_id,
                       COALESCE(SUM(CASE WHEN event_type = 'view'
                                         THEN value END), 0.0) AS score,
                       MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                         AS t,
                       MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                         AS conv
                FROM events GROUP BY 1),
    tl AS (SELECT *, NTILE(10) OVER (ORDER BY score DESC, user_id) AS decile
           FROM pu),
    pd AS (SELECT decile,
                  SUM(t) AS nt, SUM(1 - t) AS nc,
                  SUM(t * conv) AS ct, SUM((1 - t) * conv) AS cc
           FROM tl GROUP BY 1),
    cm AS (SELECT CAST(decile AS INT) AS decile,
                  CAST(SUM(nt) OVER w AS BIGINT) AS n_t_cum,
                  CAST(SUM(nc) OVER w AS BIGINT) AS n_c_cum,
                  CAST(SUM(ct) OVER w AS BIGINT) AS conv_t_cum,
                  CAST(SUM(cc) OVER w AS BIGINT) AS conv_c_cum
           FROM pd WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED
                                PRECEDING AND CURRENT ROW))
    SELECT decile, n_t_cum, n_c_cum, conv_t_cum, conv_c_cum,
           ROUND(CASE WHEN n_c_cum > 0 THEN
                 CAST(conv_t_cum AS DOUBLE)
                 - CAST(conv_c_cum AS DOUBLE)
                   * (CAST(n_t_cum AS DOUBLE) / CAST(n_c_cum AS DOUBLE))
                 END, 6) AS qini_r
    FROM cm ORDER BY decile
    """,
)
def x219_qini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini curve: cumulative incremental purchases of clickers vs
    non-clickers by view-engagement decile."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import qini_curve

    ev = load_table(spark, sf_dir, "events")
    return qini_curve(ev)


# --------------------------------------------------------------------------
# X220 — overdispersion check (operators/stats.py overdispersion_check):
# Fisher dispersion index of daily counts per event type — the Poisson
# sanity gate before trusting x87's anomaly thresholds.
# --------------------------------------------------------------------------
@query(
    "x220_overdispersion",
    """
    WITH d AS (SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP)
                        AS dd,
                      CAST(COUNT(*) AS BIGINT) AS x
               FROM events GROUP BY 1, 2),
    a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
                 CAST(SUM(x) AS BIGINT) AS s, CAST(SUM(x * x) AS BIGINT) AS ss
          FROM d GROUP BY 1)
    SELECT event_type, n_days,
           ROUND(CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE), 6) AS mean_r,
           ROUND(CASE WHEN n_days >= 2 THEN
                 (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
                  * (CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE)))
                 / (CAST(n_days AS DOUBLE) - 1.0) END, 6) AS var_r,
           ROUND(CASE WHEN n_days >= 2 AND s > 0 THEN
                 ((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
                   * (CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE)))
                  / (CAST(n_days AS DOUBLE) - 1.0))
                 / (CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE)) END, 6)
             AS dispersion_r,
           ROUND(CASE WHEN n_days >= 2 AND s > 0 THEN
                 (CAST(n_days AS DOUBLE) - 1.0)
                 * (((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
                      * (CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE)))
                     / (CAST(n_days AS DOUBLE) - 1.0))
                    / (CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE))) END, 6)
             AS chi2_r
    FROM a
    """,
)
def x220_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher dispersion index of daily counts per event type."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import (
        overdispersion_check,
    )

    ev = load_table(spark, sf_dir, "events")
    return overdispersion_check(ev)


# --------------------------------------------------------------------------
# X221 — Friedman test (operators/stats.py friedman_test): rank-based
# repeated-measures comparison of event types across day blocks —
# x110's nonparametric, blocked complement. Rank sums ride as exact
# 2x-integers.
# --------------------------------------------------------------------------
@query(
    "x221_friedman",
    """
    WITH d AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS dd,
                      event_type, CAST(COUNT(*) AS BIGINT) AS x
               FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
    kk AS (SELECT COUNT(DISTINCT event_type) AS k FROM d),
    cb AS (SELECT dd FROM d GROUP BY dd
           HAVING COUNT(*) = (SELECT k FROM kk)),
    b AS (SELECT d.* FROM d JOIN cb USING (dd)),
    r AS (SELECT event_type,
                 2 * RANK() OVER (PARTITION BY dd ORDER BY x)
                 + (COUNT(*) OVER (PARTITION BY dd, x) - 1) AS r2
          FROM b),
    s AS (SELECT event_type, CAST(SUM(r2) AS BIGINT) AS r2s,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM r GROUP BY 1),
    a AS (SELECT CAST(MAX(n) AS BIGINT) AS n_blocks,
                 CAST(COUNT(*) AS BIGINT) AS k,
                 SUM((CAST(r2s AS DOUBLE) / 2.0)
                     * (CAST(r2s AS DOUBLE) / 2.0)) AS sr2
          FROM s)
    SELECT n_blocks, k,
           ROUND(CASE WHEN n_blocks > 0 AND k >= 2 THEN
                 12.0 / (CAST(n_blocks AS DOUBLE) * CAST(k AS DOUBLE)
                         * (CAST(k AS DOUBLE) + 1.0)) * sr2
                 - 3.0 * CAST(n_blocks AS DOUBLE)
                   * (CAST(k AS DOUBLE) + 1.0) END, 6) AS q_r
    FROM a
    """,
)
def x221_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman Q: do event types consistently out-rank each other
    across days?"""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import friedman_test

    ev = load_table(spark, sf_dir, "events")
    return friedman_test(ev)


# --------------------------------------------------------------------------
# X222 — TOST equivalence (operators/stats.py tost_equivalence): the
# two-one-sided-tests launch gate on per-user purchase rates of the
# parity cohorts — "within ±2 points", not just "not significantly
# different".
# --------------------------------------------------------------------------
@query(
    "x222_tost",
    """
    WITH pu AS (SELECT user_id % 2 AS g,
                       CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                                          THEN 1 ELSE 0 END) >= 5
                            THEN 1 ELSE 0 END AS f
                FROM events GROUP BY user_id),
    per AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(f) AS BIGINT) AS p
            FROM pu GROUP BY 1),
    b AS (SELECT '0' AS g1, '1' AS g2,
                 CAST(SUM(CASE WHEN g = 0 THEN n END) AS BIGINT) AS n1,
                 CAST(SUM(CASE WHEN g = 1 THEN n END) AS BIGINT) AS n2,
                 CAST(SUM(CASE WHEN g = 0 THEN p END) AS BIGINT) AS p1,
                 CAST(SUM(CASE WHEN g = 1 THEN p END) AS BIGINT) AS p2
          FROM per),
    e AS (SELECT *, CAST(p1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS r1,
                 CAST(p2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS r2
          FROM b),
    z AS (SELECT *, r1 - r2 AS diff,
                 SQRT(r1 * (1.0 - r1) / CAST(n1 AS DOUBLE)
                      + r2 * (1.0 - r2) / CAST(n2 AS DOUBLE)) AS se
          FROM e)
    SELECT g1, g2, n1, n2,
           ROUND(r1, 6) AS rate1_r, ROUND(r2, 6) AS rate2_r,
           ROUND(diff, 6) AS diff_r,
           ROUND(CASE WHEN se > 0 THEN (diff + 0.02) / se END, 6) AS z_lower_r,
           ROUND(CASE WHEN se > 0 THEN (0.02 - diff) / se END, 6) AS z_upper_r,
           COALESCE(CASE WHEN se > 0 THEN (diff + 0.02) / se END
                      >= 1.6448536269514722
                    AND CASE WHEN se > 0 THEN (0.02 - diff) / se END
                      >= 1.6448536269514722, FALSE) AS equivalent
    FROM z
    """,
)
def x222_tost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST: are the parity cohorts' heavy-buyer (>= 5 purchases)
    rates equivalent within ±2 points?"""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import tost_equivalence

    ev = load_table(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        (
            F.sum((F.col("event_type") == "purchase").cast("int")) >= 5
        ).cast("int").alias("f")
    ).select(F.pmod(F.col("user_id"), F.lit(2)).cast("int").alias("g"), "f")
    return tost_equivalence(pu, "g", "f", margin=0.02, groups=(0, 1))


# --------------------------------------------------------------------------
# X223 — DP histogram with consistency post-processing (operators/dp.py
# dp_histogram_consistent): clamp + largest-remainder repair against an
# independently-released DP total — free under DP, and what every real
# deployment publishes instead of raw negative cells. Rows-only (seeded
# noise, the C3/C10 class); invariants in pytest.
# --------------------------------------------------------------------------
@query("x223_dp_consistent")
def x223_dp_consistent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent eps-DP release of the returnflag × linestatus
    histogram."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import (
        dp_histogram_consistent,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return dp_histogram_consistent(
        li, ["l_returnflag", "l_linestatus"], epsilon=1.0, seed=42,
        release="x223_dp_consistent",
    )


# --------------------------------------------------------------------------
# C3-prefix — deterministic encode/standardize projection
# (operators/clustering.py encode_scale): the StringIndexer(alphabetAsc)
# + StandardScaler(withMean, withStd) stages of C3 as an oracle-checkable
# relation (r7 verdict task 7 — shrinks the rows-only surface to the
# KMeans solver alone; MLlib-stage parity pinned in tests).
# --------------------------------------------------------------------------
def _c03_encode_scale_sql() -> str:
    # exact int64 sufficient statistics per feature; mean/std/scaled are
    # the same fixed IEEE expressions the engine evaluates
    feats = [("c_nationkey", "i1"), ("c_mktsegment", "i2"), ("c_acctbal", "i3")]
    sel = ["c_custkey", "c_mktsegment_idx"]
    for c, i in feats:
        mean = f"(CAST(s1{i} AS DOUBLE) / CAST(n AS DOUBLE))"
        var = (
            f"((CAST(s2{i} AS DOUBLE) - CAST(s1{i} AS DOUBLE) * CAST(s1{i} AS DOUBLE)"
            f" / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0))"
        )
        std = f"SQRT({var})"
        sel.append(
            f"ROUND(CASE WHEN {std} > 0.0 THEN (CAST({i} AS DOUBLE) - {mean}) / {std}"
            f" ELSE 0.0 END, 9) AS {c}_scaled_r"
        )
    moments = ", ".join(
        f"CAST(SUM({i}) AS BIGINT) AS s1{i}, CAST(SUM({i} * {i}) AS BIGINT) AS s2{i}"
        for _, i in feats
    )
    return f"""
    WITH dict AS (SELECT c_mktsegment,
                         CAST(DENSE_RANK() OVER (ORDER BY c_mktsegment) - 1 AS BIGINT)
                           AS c_mktsegment_idx
                  FROM (SELECT DISTINCT c_mktsegment FROM customer
                        WHERE c_mktsegment IS NOT NULL)),
    b AS MATERIALIZED (SELECT c_custkey, d.c_mktsegment_idx,
                CAST(c_nationkey AS BIGINT) AS i1,
                d.c_mktsegment_idx AS i2,
                CAST(ROUND(c_acctbal * 100.0, 0) AS BIGINT) AS i3
         FROM customer c JOIN dict d USING (c_mktsegment)),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, {moments} FROM b)
    SELECT {', '.join(sel)} FROM b CROSS JOIN m
    """


@query("c03_encode_scale", _c03_encode_scale_sql())
def c03_encode_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3's deterministic prefix: label-encode + standardize the customer
    QI exactly like cluster_assign's StringIndexer/StandardScaler."""
    from dbms_data_anonymity_differential_privacy_spark.operators.clustering import encode_scale

    c = load_table(spark, sf_dir, "customer")
    return encode_scale(
        c,
        ["c_nationkey", "c_mktsegment", "c_acctbal"],
        id_col="c_custkey",
        money_cols=("c_acctbal",),
    )


# --------------------------------------------------------------------------
# X224 — simplified silhouette per cluster (operators/embeddings.py
# silhouette_by_label): the cluster-quality gate for C3 / x171 / x175
# blocks. Centroids are sorted-fold means; distances expand to
# xx − 2·dot + cc with in-order folds == list_dot_product (x04 contract).
# --------------------------------------------------------------------------
@query(
    "x224_silhouette",
    """
    WITH e AS MATERIALIZED (SELECT vec_id, label,
                list_transform(embedding, y -> CAST(y AS DOUBLE)) AS v
         FROM embeddings),
    dims AS (SELECT label, r.i AS i, CAST(COUNT(*) AS BIGINT) AS n,
                    list_reduce(list_sort(list(v[r.i])), (a, b) -> a + b) AS s
             FROM e, range(1, 65) r(i) GROUP BY label, r.i),
    cent AS MATERIALIZED (
        SELECT label AS clbl, list(s / CAST(n AS DOUBLE) ORDER BY i) AS cv
        FROM dims GROUP BY label),
    c2 AS (SELECT clbl, cv, list_dot_product(cv, cv) AS cc FROM cent),
    d AS (SELECT e.vec_id, e.label, c.clbl,
                 SQRT(GREATEST(list_dot_product(e.v, e.v)
                               - 2 * list_dot_product(e.v, c.cv) + c.cc, 0.0)) AS dist
          FROM e CROSS JOIN c2 c),
    ab AS (SELECT vec_id, label,
                  MAX(CASE WHEN clbl = label THEN dist END) AS a,
                  MIN(CASE WHEN clbl <> label THEN dist END) AS b
           FROM d GROUP BY 1, 2),
    sil AS (SELECT label, a, b,
                   CASE WHEN GREATEST(a, b) > 0.0
                        THEN (b - a) / GREATEST(a, b) ELSE 0.0 END AS s
            FROM ab)
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(list_reduce(list_sort(list(a)), (x, y) -> x + y)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS mean_a_r,
           ROUND(list_reduce(list_sort(list(b)), (x, y) -> x + y)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS mean_b_r,
           ROUND(list_reduce(list_sort(list(s)), (x, y) -> x + y)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS silhouette_r
    FROM sil GROUP BY label
    """,
)
def x224_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label simplified silhouette over the embeddings table."""
    from dbms_data_anonymity_differential_privacy_spark.operators.embeddings import (
        silhouette_by_label,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return silhouette_by_label(emb)


# --------------------------------------------------------------------------
# X225 — Kendall tau-b (operators/stats.py kendall_tau_b): pair-
# concordance rank agreement on the CONTINGENCY GRID (|grid|² cell
# pairs, never row pairs) — all counts exact int64, one float division.
# Instance: per-user view count vs purchase count.
# --------------------------------------------------------------------------
# exact int64 n0 via the even-factor split, matching the engine
# (operators/stats.py kendall_tau_b, round-8 advisory); each (n0 - ties)
# difference stays int64 and casts to double only for the multiply
_X225_N0 = "(CASE WHEN n % 2 = 0 THEN (n // 2) * (n - 1) ELSE n * ((n - 1) // 2) END)"
_X225_DEN = (
    f"SQRT(CAST({_X225_N0} - ties_x AS DOUBLE)"
    f" * CAST({_X225_N0} - ties_y AS DOUBLE))"
)


@query(
    "x225_kendall_tau",
    f"""
    WITH pu AS (SELECT user_id,
                       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                            AS BIGINT) AS x,
                       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                            AS BIGINT) AS y
                FROM events GROUP BY 1),
    g AS MATERIALIZED (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c FROM pu GROUP BY 1, 2),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM g),
    tx AS (SELECT CAST(SUM((cx * (cx - 1)) // 2) AS BIGINT) AS ties_x
           FROM (SELECT CAST(SUM(c) AS BIGINT) AS cx FROM g GROUP BY x)),
    ty AS (SELECT CAST(SUM((cy * (cy - 1)) // 2) AS BIGINT) AS ties_y
           FROM (SELECT CAST(SUM(c) AS BIGINT) AS cy FROM g GROUP BY y)),
    cd AS (SELECT CAST(SUM(CASE WHEN a.y < b.y THEN a.c * b.c ELSE 0 END) AS BIGINT)
                    AS concordant,
                  CAST(SUM(CASE WHEN a.y > b.y THEN a.c * b.c ELSE 0 END) AS BIGINT)
                    AS discordant
           FROM g a JOIN g b ON a.x < b.x)
    SELECT n, concordant, discordant, ties_x, ties_y,
           ROUND(CASE WHEN {_X225_DEN} > 0.0
                      THEN (CAST(concordant AS DOUBLE) - CAST(discordant AS DOUBLE))
                           / {_X225_DEN} END, 9) AS tau_b_r
    FROM tot CROSS JOIN cd CROSS JOIN tx CROSS JOIN ty
    """,
)
def x225_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tau-b rank agreement between per-user view and purchase counts."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import kendall_tau_b

    ev = load_table(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.sum((F.col("event_type") == "view").cast("long")).alias("x"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("y"),
    )
    return kendall_tau_b(pu, "x", "y")


# --------------------------------------------------------------------------
# X226 — Krippendorff's alpha, nominal (operators/stats.py
# krippendorff_alpha_nominal): multi-rater agreement with missing
# ratings — x191's generalization. LCM(1..16) scaling keeps the
# observed-disagreement sum exact int64 (the x221 2×-rank idiom).
# Instance: do an order's lineitems agree on l_returnflag?
# --------------------------------------------------------------------------
_X226_ND = "CAST(n_ratings AS DOUBLE)"
# the engine escalates past 17 ratings/unit to a sorted-fold double path
# (LCM divisibility breaks) — the twin switches on the same MAX(m)
_X226_DOBS = (
    f"(CASE WHEN mx <= 17 THEN CAST(s AS DOUBLE) / 720720.0"
    f" ELSE sd END / {_X226_ND})"
)
_X226_DENUM = f"({_X226_ND} * {_X226_ND} - CAST(t AS DOUBLE))"
_X226_DEXP = f"({_X226_DENUM} / ({_X226_ND} * ({_X226_ND} - 1.0)))"


@query(
    "x226_krippendorff",
    f"""
    WITH uc AS MATERIALIZED (
        SELECT l_orderkey AS u, l_returnflag AS l, CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem GROUP BY 1, 2),
    pu AS MATERIALIZED (
        SELECT u, CAST(SUM(c) AS BIGINT) AS m, CAST(SUM(c * c) AS BIGINT) AS ssq
        FROM uc GROUP BY 1 HAVING SUM(c) >= 2),
    don AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
                   CAST(SUM(m) AS BIGINT) AS n_ratings,
                   CAST(SUM(CAST(720720 AS BIGINT) * (m * m - ssq) // (m - 1))
                        AS BIGINT) AS s,
                   MAX(m) AS mx,
                   list_reduce(list_sort(list(CAST(m * m - ssq AS DOUBLE)
                                              / CAST(m - 1 AS DOUBLE))),
                               (a, b) -> a + b) AS sd
            FROM pu),
    marg AS (SELECT l, CAST(SUM(c) AS BIGINT) AS nc
             FROM uc JOIN pu USING (u) GROUP BY 1),
    mt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_labels,
                  CAST(SUM(nc * nc) AS BIGINT) AS t FROM marg)
    SELECT n_units, n_ratings, n_labels,
           ROUND({_X226_DOBS}, 9) AS d_obs_r,
           ROUND({_X226_DEXP}, 9) AS d_exp_r,
           ROUND(CASE WHEN {_X226_DENUM} > 0.0
                      THEN 1.0 - {_X226_DOBS} / {_X226_DEXP} END, 9) AS alpha_r
    FROM don CROSS JOIN mt
    """,
)
def x226_krippendorff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff alpha: within-order agreement on l_returnflag."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import (
        krippendorff_alpha_nominal,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return krippendorff_alpha_nominal(li, "l_orderkey", "l_returnflag")


# --------------------------------------------------------------------------
# X227 — planted-canary memorization audit (operators/dedup.py
# canary_audit): the data-side half of the Secret Sharer protocol —
# per-canary duplication counts over the corpus, map-only literal scan.
# Canary list is PUBLIC metadata by protocol construction.
# --------------------------------------------------------------------------
X227_CANARIES = ["table window", "spark order data", "zzz-canary-0001"]


def _x227_sql() -> str:
    # single quotes doubled per ANSI SQL so a quote-bearing canary can't
    # desynchronize the twin (the engine path uses F.lit and was already
    # immune) — round-8 advisory
    vals = ", ".join(
        "({}, '{}')".format(i, c.replace("'", "''"))
        for i, c in enumerate(X227_CANARIES)
    )
    return f"""
    WITH c(canary_id, canary) AS (VALUES {vals}),
    e AS (SELECT c.canary_id, c.canary,
                 CAST((length(d.text) - length(replace(d.text, c.canary, '')))
                      // length(c.canary) AS BIGINT) AS occ,
                 d.doc_id
          FROM documents d CROSS JOIN c)
    SELECT canary_id, canary,
           CAST(SUM(CASE WHEN occ > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
           CAST(SUM(occ) AS BIGINT) AS n_occurrences,
           MIN(CASE WHEN occ > 0 THEN doc_id END) AS first_doc_id
    FROM e GROUP BY 1, 2
    """


@query("x227_canary_audit", _x227_sql())
def x227_canary_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secret Sharer data-side audit: how duplicated is each planted
    canary in the documents corpus? (Zeros for absent canaries — the
    passing result stays visible.)"""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import canary_audit

    d = load_table(spark, sf_dir, "documents")
    return canary_audit(d, X227_CANARIES)


# --------------------------------------------------------------------------
# X228 — capture-recapture dedup-coverage audit (operators/dedup.py
# capture_recapture_audit): Chapman's estimator over two independent
# near-dup detectors (3-gram vs 4-gram Jaccard at 0.2) — estimates the
# TRUE duplicate population, including what both detectors missed.
# --------------------------------------------------------------------------
def _shingle_ctes(n: int, tag: str) -> str:
    """Width-n shingle chain (the SHINGLE_CTES template, parameterized)."""
    return (
        f"sh{tag} AS (SELECT doc_id, list_distinct(list_transform("
        f"generate_series(1, greatest(len(toks) - {n - 1}, 0)), "
        f"i -> array_to_string(toks[i:i+{n - 1}], ' '))) AS s FROM t), "
        f"e{tag} AS (SELECT doc_id, len(s) AS ns, unnest(s) AS shingle FROM sh{tag}), "
        f"p{tag} AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ns AS na,"
        f" b.ns AS nb, COUNT(*) AS inter"
        f" FROM e{tag} a JOIN e{tag} b ON a.shingle = b.shingle AND a.doc_id < b.doc_id"
        f" GROUP BY 1, 2, 3, 4), "
        f"f{tag} AS (SELECT DISTINCT id_b FROM p{tag}"
        f" WHERE ROUND(inter / (na + nb - inter), 9) >= 0.2)"
    )


@query(
    "x228_capture_recapture",
    f"""
    WITH t AS MATERIALIZED (SELECT doc_id,
                    string_split_regex(lower(trim(text)), '\\s+') AS toks
               FROM documents),
    {_shingle_ctes(3, "a")},
    {_shingle_ctes(4, "b")},
    agg AS (SELECT COALESCE(CAST(SUM(CASE WHEN fa.id_b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT), 0) AS n_a,
                   COALESCE(CAST(SUM(CASE WHEN fb.id_b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT), 0) AS n_b,
                   COALESCE(CAST(SUM(CASE WHEN fa.id_b IS NOT NULL AND fb.id_b IS NOT NULL
                            THEN 1 ELSE 0 END) AS BIGINT), 0) AS n_both
            FROM fa FULL JOIN fb USING (id_b))
    SELECT n_a, n_b, n_both,
           ROUND(CAST((n_a + 1) * (n_b + 1) AS DOUBLE)
                 / (CAST(n_both AS DOUBLE) + 1.0) - 1.0, 6) AS chapman_r,
           ROUND(CASE WHEN n_both > 0 THEN CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                      / CAST(n_both AS DOUBLE) END, 6) AS lincoln_petersen_r
    FROM agg
    """,
)
def x228_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many near-dups does the corpus REALLY contain? Chapman
    estimate from the 3-gram and 4-gram Jaccard detectors' flag sets."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import (
        capture_recapture_audit,
        hashed_tokens,
        ngram_jaccard_pairs,
    )
    from dbms_data_anonymity_differential_privacy_spark.operators.util import track_cached

    docs = load_table(spark, sf_dir, "documents")
    # ONE tokenization pass feeds both detectors (the token-hash array is
    # shingle-width-independent; regex split + per-token hashing is the
    # dominant per-doc CPU — r9 verdict measured ~1/3 of x228's wall)
    toks = track_cached(hashed_tokens(docs).persist())
    return capture_recapture_audit(
        ngram_jaccard_pairs(docs, threshold=0.2, n=3, tokens=toks),
        ngram_jaccard_pairs(docs, threshold=0.2, n=4, tokens=toks),
    )


# --------------------------------------------------------------------------
# X229 — two-sample Anderson-Darling, midrank version (operators/stats.py
# anderson_darling_2samp): tail-sensitive distribution-drift test on the
# distinct-value relation; doubled midrank cumulatives keep every count
# exact int64, per-value terms fold sorted. Instance: view vs purchase
# transaction values.
# --------------------------------------------------------------------------
_X229_B2 = "(2 * (ba + bb) + l)"
_X229_NUMA = "CAST((n_a + n_b) * (2 * ba + la) - n_a * {b2} AS DOUBLE)".format(b2=_X229_B2)
_X229_NUMB = "CAST((n_a + n_b) * (2 * bb + lb) - n_b * {b2} AS DOUBLE)".format(b2=_X229_B2)
_X229_DEN = (
    f"CAST({_X229_B2} * (2 * (n_a + n_b) - {_X229_B2})"
    f" - (n_a + n_b) * l AS BIGINT)"
)


@query(
    "x229_anderson_darling",
    f"""
    WITH f AS (SELECT value AS v, event_type AS g FROM events
               WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL),
    c AS (SELECT v,
                 CAST(SUM(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS la,
                 CAST(SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS lb
          FROM f GROUP BY v),
    s AS (SELECT v, la, lb, la + lb AS l,
                 COALESCE(SUM(la) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS ba,
                 COALESCE(SUM(lb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS bb
          FROM c),
    tot AS (SELECT CAST(SUM(la) AS BIGINT) AS n_a, CAST(SUM(lb) AS BIGINT) AS n_b,
                   CAST(COUNT(*) AS BIGINT) AS n_distinct
            FROM s),
    terms AS (SELECT n_a, n_b, n_distinct,
                     CASE WHEN {_X229_DEN} > 0 THEN
                       CAST(l AS DOUBLE)
                       * ({_X229_NUMA} * {_X229_NUMA} / CAST(n_a AS DOUBLE)
                          + {_X229_NUMB} * {_X229_NUMB} / CAST(n_b AS DOUBLE))
                       / CAST({_X229_DEN} AS DOUBLE)
                     ELSE 0.0 END AS t
              FROM s CROSS JOIN tot),
    fold AS (SELECT n_a, n_b, n_distinct,
                    list_reduce(list_sort(list(t)), (a, b) -> a + b) AS sm
             FROM terms GROUP BY 1, 2, 3)
    SELECT n_a, n_b, n_distinct,
           CASE WHEN n_a > 0 AND n_b > 0 THEN
             ROUND((CAST(n_a + n_b AS DOUBLE) - 1.0)
                   / (CAST(n_a + n_b AS DOUBLE) * CAST(n_a + n_b AS DOUBLE)) * sm, 9)
           END AS a2_r
    FROM fold
    """,
)
def x229_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail-sensitive A2akN between view and purchase transaction
    values (the drift test that moves before KS does)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import (
        anderson_darling_2samp,
    )

    ev = load_table(spark, sf_dir, "events")
    return anderson_darling_2samp(ev, "value", "event_type", "view", "purchase")


# --------------------------------------------------------------------------
# X230 — Ljung-Box portmanteau test (operators/stats.py ljung_box): the
# one-number whiteness summary over x142's exact hourly ACF machinery;
# terms r_k^2/(n-k) fold in lag order, n(n+2) stays integer.
# --------------------------------------------------------------------------
@query(
    "x230_ljung_box",
    """
    WITH e AS (SELECT date_diff('second', TIMESTAMP '1970-01-01', ts) // 3600 AS t
               FROM events),
    cnt AS (SELECT t, COUNT(*) AS c FROM e GROUP BY 1),
    b AS (SELECT MIN(t) AS lo, MAX(t) AS hi FROM cnt),
    sp AS (SELECT unnest(generate_series(lo, hi)) AS t FROM b),
    d AS MATERIALIZED (SELECT sp.t, COALESCE(cnt.c, 0) AS c FROM sp LEFT JOIN cnt USING (t)),
    tot AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(c) AS HUGEINT) AS S,
                   CAST(SUM(c*c) AS HUGEINT) AS Q
            FROM d),
    lg AS (SELECT unnest(generate_series(1, 24)) AS lag),
    p AS (SELECT lg.lag AS lag,
                 CAST(SUM(d1.c * d2.c) AS HUGEINT) AS pk,
                 CAST(SUM(d1.c) AS HUGEINT) AS ak,
                 CAST(SUM(d2.c) AS HUGEINT) AS bk
          FROM lg CROSS JOIN d d1 JOIN d d2 ON d2.t = d1.t - lg.lag
          GROUP BY 1),
    terms AS (SELECT CAST(n AS BIGINT) AS n_periods,
                     CASE WHEN (n*n*Q - n*S*S) > 0 THEN
                       (CAST(n*n*pk - n*S*(ak+bk) + (n - p.lag)*S*S AS DOUBLE)
                        / CAST(n*n*Q - n*S*S AS DOUBLE))
                       * (CAST(n*n*pk - n*S*(ak+bk) + (n - p.lag)*S*S AS DOUBLE)
                          / CAST(n*n*Q - n*S*S AS DOUBLE))
                       / CAST(n - p.lag AS DOUBLE)
                     END AS t,
                     p.lag AS lag
              FROM p CROSS JOIN tot),
    fold AS (SELECT n_periods, CAST(COUNT(*) AS INTEGER) AS max_lag,
                    list_reduce(list(t ORDER BY lag), (a, b) -> a + b) AS sm,
                    SUM(CASE WHEN t IS NULL THEN 1 ELSE 0 END) AS nulls
             FROM terms GROUP BY 1)
    SELECT n_periods, max_lag,
           ROUND(CASE WHEN nulls = 0 THEN
                   CAST(n_periods * (n_periods + 2) AS DOUBLE) * sm END, 9) AS q_r
    FROM fold
    """,
)
def x230_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is the hourly event rate white noise? Q over lags 1..24."""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import ljung_box

    ev = load_table(spark, sf_dir, "events")
    return ljung_box(ev, max_lag=24)


# --------------------------------------------------------------------------
# X231 — Neyman-optimal stratified allocation (operators/sampling.py
# neyman_allocation): budget ∝ N_h σ_h per stratum; sorted-fold moments,
# one fixed IEEE expression per release column.
# --------------------------------------------------------------------------
_X231_SD = (
    "CASE WHEN n_rows > 1 THEN sqrt(greatest((sxx - sx * sx / CAST(n_rows AS DOUBLE))"
    " / (CAST(n_rows AS DOUBLE) - 1.0), 0.0)) ELSE 0.0 END"
)


@query(
    "x231_neyman_allocation",
    f"""
    WITH per AS (SELECT event_type AS stratum, CAST(COUNT(*) AS BIGINT) AS n_rows,
                        list_reduce(list_sort(list(CAST(value AS DOUBLE))),
                                    (a, b) -> a + b) AS sx,
                        list_reduce(list_sort(list(CAST(value AS DOUBLE)
                                                   * CAST(value AS DOUBLE))),
                                    (a, b) -> a + b) AS sxx
                 FROM events
                 WHERE value IS NOT NULL AND event_type IS NOT NULL GROUP BY 1),
    staged AS (SELECT stratum, n_rows, {_X231_SD} AS sd,
                      CAST(n_rows AS DOUBLE) * ({_X231_SD}) AS w
               FROM per),
    norm AS (SELECT list_reduce(list_sort(list(w)), (a, b) -> a + b) AS nm
             FROM staged)
    SELECT stratum, n_rows, ROUND(sd, 9) AS sd_r,
           ROUND(CASE WHEN nm > 0 THEN w / nm ELSE 0.0 END, 9) AS weight_r,
           CAST(ROUND(10000.0 * (CASE WHEN nm > 0 THEN w / nm ELSE 0.0 END), 0)
                AS BIGINT) AS n_alloc
    FROM staged CROSS JOIN norm
    """,
)
def x231_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal 10k-draw sample allocation across event types by
    N_h * sigma_h of the transaction value."""
    from dbms_data_anonymity_differential_privacy_spark.operators.sampling import (
        neyman_allocation,
    )

    ev = load_table(spark, sf_dir, "events")
    return neyman_allocation(ev, "event_type", "value", total_budget=10_000)


# --------------------------------------------------------------------------
# X232 — Count-Min sketch with exact audit (operators/sketch.py
# count_min_estimates): d×w portable-md5 counter grid over the document
# token stream; top-20 exact counts released next to their CMS estimates
# (one-sided error made auditable).
# --------------------------------------------------------------------------
_X232_D, _X232_W, _X232_TOP = 4, 512, 20


@query(
    "x232_count_min",
    f"""
    WITH tok AS MATERIALIZED (
        SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS k
        FROM documents),
    keyed AS (SELECT k FROM tok WHERE k IS NOT NULL AND k <> ''),
    rows_ AS (SELECT unnest(generate_series(0, {_X232_D - 1})) AS i),
    counters AS (SELECT i,
                        ('0x' || substr(md5(k || '#cms' || CAST(i AS VARCHAR)), 1, 8))::BIGINT
                          % {_X232_W} AS b,
                        CAST(COUNT(*) AS BIGINT) AS c
                 FROM keyed CROSS JOIN rows_ GROUP BY 1, 2),
    exact AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS exact_count
              FROM keyed GROUP BY 1),
    topk AS (SELECT k, exact_count FROM exact
             ORDER BY exact_count DESC, k ASC LIMIT {_X232_TOP}),
    probes AS (SELECT k, exact_count, i,
                      ('0x' || substr(md5(k || '#cms' || CAST(i AS VARCHAR)), 1, 8))::BIGINT
                        % {_X232_W} AS b
               FROM topk CROSS JOIN rows_)
    SELECT probes.k AS key, probes.exact_count,
           CAST(MIN(counters.c) AS BIGINT) AS cms_count,
           CAST(MIN(counters.c) - probes.exact_count AS BIGINT) AS overcount
    FROM probes JOIN counters USING (i, b)
    GROUP BY 1, 2
    """,
)
def x232_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS token-frequency estimates vs exact counts for the corpus
    top-20 tokens (d=4, w=512)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.sketch import (
        count_min_estimates,
    )

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token")
    )
    return count_min_estimates(
        tok, "token", depth=_X232_D, width=_X232_W, top=_X232_TOP
    )


# --------------------------------------------------------------------------
# X234 — MinHash estimator audit (operators/dedup.py
# minhash_jaccard_audit): exact Jaccard vs 32-permutation MinHash
# estimate per qualifying pair — portable md5 base hash so DuckDB
# replays every signature component (the x232 estimator-audit family).
# --------------------------------------------------------------------------
def _x234_sql() -> str:
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import (
        _MH_AUDIT_P,
        _mh_audit_perms,
    )

    perms = ", ".join(f"({i}, {a}, {b})" for i, a, b in _mh_audit_perms(32))
    return f"""
    WITH {SHINGLE_CTES},
    p AS MATERIALIZED (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ns AS na, b.ns AS nb,
                 COUNT(*) AS inter
          FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4),
    pairs AS (SELECT id_a, id_b, ROUND(inter / (na + nb - inter), 9) AS jaccard
              FROM p WHERE ROUND(inter / (na + nb - inter), 9) >= 0.2),
    perms(i, a, b) AS (VALUES {perms}),
    h AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h32
          FROM e),
    sig AS MATERIALIZED (SELECT doc_id, i,
                 MIN((h32 * a + b) % {_MH_AUDIT_P}) AS mh
          FROM h CROSS JOIN perms GROUP BY 1, 2)
    SELECT pairs.id_a, pairs.id_b, pairs.jaccard AS jaccard_r,
           ROUND(CAST(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS DOUBLE)
                 / 32.0, 9) AS minhash_est_r,
           ROUND(ABS(pairs.jaccard
                     - CAST(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS DOUBLE)
                       / 32.0), 9) AS abs_err_r
    FROM pairs
    JOIN sig sa ON sa.doc_id = pairs.id_a
    JOIN sig sb ON sb.doc_id = pairs.id_b AND sb.i = sa.i
    GROUP BY 1, 2, 3
    """


@query("x234_minhash_estimate", _x234_sql())
def x234_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash accuracy audit: exact Jaccard vs the 32-hash estimate for
    every qualifying near-dup pair."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import (
        minhash_jaccard_audit,
    )

    docs = load_table(spark, sf_dir, "documents")
    return minhash_jaccard_audit(docs, threshold=0.2, n=3, num_hashes=32)


# --------------------------------------------------------------------------
# X235 — k-sample Anderson-Darling (operators/stats.py
# anderson_darling_ksamp): one homogeneity screen across all five event
# cohorts' transaction values (x229 machinery, k conditional columns).
# --------------------------------------------------------------------------
_X235_GROUPS = ["click", "error", "purchase", "signup", "view"]


def _x235_sql() -> str:
    k = _X235_GROUPS
    las = ", ".join(
        f"CAST(SUM(CASE WHEN g = '{v}' THEN 1 ELSE 0 END) AS BIGINT) AS l{i}"
        for i, v in enumerate(k)
    )
    bas = ", ".join(
        f"COALESCE(SUM(l{i}) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING"
        f" AND 1 PRECEDING), 0) AS b{i}"
        for i in range(len(k))
    )
    l_tot = " + ".join(f"l{i}" for i in range(len(k)))
    b_tot = " + ".join(f"b{i}" for i in range(len(k)))
    ns = ", ".join(f"CAST(SUM(l{i}) AS BIGINT) AS n{i}" for i in range(len(k)))
    n_tot = " + ".join(f"n{i}" for i in range(len(k)))
    b2 = "(2 * bt + l)"
    den = f"CAST({b2} * (2 * ({n_tot}) - {b2}) - ({n_tot}) * l AS BIGINT)"
    inner = " + ".join(
        f"(CAST(({n_tot}) * (2 * b{i} + l{i}) - n{i} * {b2} AS DOUBLE)"
        f" * CAST(({n_tot}) * (2 * b{i} + l{i}) - n{i} * {b2} AS DOUBLE)"
        f" / CAST(n{i} AS DOUBLE))"
        for i in range(len(k))
    )
    in_list = ", ".join(f"'{v}'" for v in k)
    defined = "(" + " AND ".join(f"n{i} > 0" for i in range(len(k))) + ")"
    return f"""
    WITH f AS (SELECT value AS v, event_type AS g FROM events
               WHERE event_type IN ({in_list}) AND value IS NOT NULL),
    c AS (SELECT v, {las} FROM f GROUP BY v),
    s AS (SELECT v, {', '.join(f'l{i}' for i in range(len(k)))}, {bas}
          FROM c),
    s2 AS (SELECT *, {l_tot} AS l, {b_tot} AS bt FROM s),
    tot AS (SELECT {ns}, CAST(COUNT(*) AS BIGINT) AS n_distinct FROM s2),
    terms AS (SELECT n_distinct, {n_tot} AS n_total, {defined} AS defined,
                     CASE WHEN {den} > 0 THEN
                       CAST(l AS DOUBLE) * ({inner}) / CAST({den} AS DOUBLE)
                     ELSE 0.0 END AS t
              FROM s2 CROSS JOIN tot),
    fold AS (SELECT n_total, n_distinct, defined,
                    list_reduce(list_sort(list(t)), (a, b) -> a + b) AS sm
             FROM terms GROUP BY 1, 2, 3)
    SELECT CAST(n_total AS BIGINT) AS n_total,
           CAST({len(k)} AS INTEGER) AS n_groups, n_distinct,
           CASE WHEN defined THEN
             ROUND((CAST(n_total AS DOUBLE) - 1.0)
                   / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)) * sm, 9)
           END AS a2_r
    FROM fold
    """


@query("x235_anderson_ksamp", _x235_sql())
def x235_anderson_ksamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do the five event cohorts share one value distribution?"""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import (
        anderson_darling_ksamp,
    )

    ev = load_table(spark, sf_dir, "events")
    return anderson_darling_ksamp(ev, "value", "event_type", _X235_GROUPS)


# --------------------------------------------------------------------------
# X236 — Theil's uncertainty coefficient (operators/stats.py theil_u):
# normalized asymmetric association, U(A|B) = MI/H(A) — x64's machinery
# with the directional ratios released. Instance: customer
# segment vs nation.
# --------------------------------------------------------------------------
@query(
    "x236_theil_u",
    """
    WITH j AS (SELECT c_mktsegment AS a, c_nationkey AS b, COUNT(*) AS c
               FROM customer
               WHERE c_mktsegment IS NOT NULL AND c_nationkey IS NOT NULL
               GROUP BY 1, 2),
    m AS (SELECT *, SUM(c) OVER (PARTITION BY a) AS ca,
                 SUM(c) OVER (PARTITION BY b) AS cb,
                 SUM(c) OVER () AS nn,
                 ROW_NUMBER() OVER (PARTITION BY a ORDER BY b) AS ra,
                 ROW_NUMBER() OVER (PARTITION BY b ORDER BY a) AS rb
          FROM j),
    agg AS (SELECT CAST(MAX(nn) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS n_cells,
                   -SUM(CASE WHEN ra = 1 THEN (CAST(ca AS DOUBLE) / nn)
                                              * LN(CAST(ca AS DOUBLE) / nn)
                             ELSE 0 END) AS ha,
                   -SUM(CASE WHEN rb = 1 THEN (CAST(cb AS DOUBLE) / nn)
                                              * LN(CAST(cb AS DOUBLE) / nn)
                             ELSE 0 END) AS hb,
                   SUM((CAST(c AS DOUBLE) / nn)
                       * LN(CAST(c * nn AS DOUBLE) / CAST(ca * cb AS DOUBLE))) AS mi
            FROM m)
    SELECT n, n_cells, ROUND(ha, 9) AS h_a_r, ROUND(hb, 9) AS h_b_r,
           ROUND(mi, 9) AS mi_r,
           ROUND(CASE WHEN ha > 0.0 THEN mi / ha END, 9) AS u_a_given_b_r,
           ROUND(CASE WHEN hb > 0.0 THEN mi / hb END, 9) AS u_b_given_a_r
    FROM agg
    """,
)
def x236_theil_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much does nation explain segment, and vice versa?"""
    from dbms_data_anonymity_differential_privacy_spark.operators.stats import theil_u

    c = load_table(spark, sf_dir, "customer")
    return theil_u(c, "c_mktsegment", "c_nationkey")


# --------------------------------------------------------------------------
# X237 — mean segmental TTR (operators/text.py msttr): length-robust
# lexical diversity per language; exact-int numerator/denominator, one
# division (full 50-token segments only).
# --------------------------------------------------------------------------
@query(
    "x237_msttr",
    """
    WITH t AS (SELECT doc_id, lang,
                      string_split_regex(lower(trim(text)), '\\s+') AS toks
               FROM documents),
    e AS (SELECT doc_id, lang, unnest(toks) AS tok,
                 unnest(range(1, len(toks) + 1)) AS pos FROM t),
    seg AS (SELECT lang, doc_id, CAST(floor((pos - 1) / 50) AS BIGINT) AS seg,
                   CAST(COUNT(*) AS BIGINT) AS ntok,
                   CAST(COUNT(DISTINCT tok) AS BIGINT) AS types
            FROM e GROUP BY 1, 2, 3)
    SELECT lang AS "group", CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(ntok) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(types) AS DOUBLE) / CAST(SUM(ntok) AS DOUBLE), 9)
             AS msttr_r
    FROM seg WHERE ntok = 50 GROUP BY 1
    """,
)
def x237_msttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-robust lexical diversity (50-token segments) per language."""
    from dbms_data_anonymity_differential_privacy_spark.operators.text import msttr

    docs = load_table(spark, sf_dir, "documents")
    return msttr(docs, segment_tokens=50)


# --------------------------------------------------------------------------
# X238 — corpus line-duplication profile (operators/dedup.py
# line_duplication_profile): histogram of line multiplicities with
# token-mass accounting — the datasheet shape question before x176
# acts on it.
# --------------------------------------------------------------------------
@query(
    "x238_line_dup_profile",
    """
    WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
               FROM documents),
    e AS (SELECT doc_id, unnest(toks) AS tok,
                 unnest(range(1, len(toks) + 1)) AS pos FROM t),
    l AS (SELECT doc_id, CAST(floor((pos - 1) / 4) AS BIGINT) AS lpos,
                 string_agg(tok, ' ' ORDER BY pos) AS line,
                 CAST(COUNT(*) AS BIGINT) AS ntok
          FROM e GROUP BY 1, 2),
    per_line AS (SELECT line, CAST(COUNT(*) AS BIGINT) AS occ,
                        CAST(SUM(ntok) AS BIGINT) AS mass
                 FROM l GROUP BY 1),
    hist AS (SELECT occ AS occurrences,
                    CAST(COUNT(*) AS BIGINT) AS n_distinct_lines,
                    CAST(SUM(occ) AS BIGINT) AS n_line_occurrences,
                    CAST(SUM(mass) AS BIGINT) AS token_mass
             FROM per_line GROUP BY 1),
    tot AS (SELECT CAST(SUM(mass) AS BIGINT) AS t FROM per_line)
    SELECT occurrences, n_distinct_lines, n_line_occurrences, token_mass,
           ROUND(CAST(token_mass AS DOUBLE) / CAST(t AS DOUBLE), 9)
             AS token_share_r
    FROM hist CROSS JOIN tot
    """,
)
def x238_line_dup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is corpus duplication a flat 2x tail or mega-repeated boilerplate?"""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import (
        line_duplication_profile,
    )

    docs = load_table(spark, sf_dir, "documents")
    return line_duplication_profile(docs, line_tokens=4)


# --------------------------------------------------------------------------
# X240 — vocabulary coverage curve (operators/text.py vocab_coverage):
# occurrence mass covered by the top-K vocab at planning breakpoints —
# the budget-terms companion of x128 Zipf.
# --------------------------------------------------------------------------
@query(
    "x240_vocab_coverage",
    """
    WITH e AS (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
               FROM documents),
    tf AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM e WHERE t <> ''
           GROUP BY 1),
    ranked AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, t ASC) AS rn
               FROM tf),
    ks(k) AS (VALUES (100), (1000), (10000)),
    hits AS (SELECT ks.k, CAST(COUNT(*) AS BIGINT) AS vocab_size,
                    CAST(SUM(c) AS BIGINT) AS covered_occurrences
             FROM ranked JOIN ks ON ranked.rn <= ks.k GROUP BY 1),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total_occurrences FROM tf)
    SELECT k, vocab_size, covered_occurrences, total_occurrences,
           ROUND(CAST(covered_occurrences AS DOUBLE)
                 / CAST(total_occurrences AS DOUBLE), 9) AS coverage_r
    FROM hits CROSS JOIN tot
    """,
)
def x240_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much occurrence mass do the top 100/1k/10k tokens cover?"""
    from dbms_data_anonymity_differential_privacy_spark.operators.text import vocab_coverage

    docs = load_table(spark, sf_dir, "documents")
    return vocab_coverage(docs, ks=(100, 1000, 10000))


# --------------------------------------------------------------------------
# X241 — near-dup planner audit (operators/dedup.py near_dup_plan_audit):
# the shingle-frequency statistics behind ngram_jaccard_pairs' adaptive
# plain-index vs prefix-filter switch, plus the candidate-pair volume
# each physical strategy would shuffle. The twin ranks by (df, shingle)
# — binary string collation on both engines; the threshold literal is
# CAST AS DOUBLE so DuckDB's ceil sees the same IEEE product as Spark's
# (a bare decimal literal would be DECIMAL arithmetic).
# --------------------------------------------------------------------------
@query(
    "x241_near_dup_plan",
    """
    WITH t AS MATERIALIZED (SELECT doc_id,
                    string_split_regex(lower(trim(text)), '\\s+') AS toks
               FROM documents),
    sh AS (SELECT doc_id, list_distinct(list_transform(
                    generate_series(1, greatest(len(toks) - 2, 0)),
                    i -> array_to_string(toks[i:i+2], ' '))) AS s
           FROM t),
    e AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS shingle FROM sh),
    dfreq AS (SELECT shingle, COUNT(*) AS df FROM e GROUP BY 1),
    stats AS (SELECT COUNT(*) AS n_shingles,
                     COALESCE(SUM(df), 0) AS n_postings,
                     COALESCE(SUM(df * df), 0) AS sum_df2,
                     COALESCE(SUM((df * (df - 1)) // 2), 0) AS plain_cand_pairs
              FROM dfreq),
    nd AS (SELECT COUNT(*) AS n_docs FROM sh),
    ranked AS (SELECT e.doc_id, e.n_sh, e.shingle, d.df,
                      ROW_NUMBER() OVER (PARTITION BY e.doc_id
                                         ORDER BY d.df, e.shingle) AS rn
               FROM e JOIN dfreq d USING (shingle)),
    pref AS (SELECT shingle, COUNT(*) AS pdf
             FROM ranked
             WHERE rn <= n_sh - CEIL(CAST(0.2 AS DOUBLE) * n_sh) + 1
               AND df >= 2
             GROUP BY 1),
    ps AS (SELECT COALESCE(SUM((pdf * (pdf - 1)) // 2), 0) AS prefix_cand_pairs
           FROM pref)
    SELECT CAST(nd.n_docs AS BIGINT) AS n_docs,
           CAST(stats.n_shingles AS BIGINT) AS n_shingles,
           CAST(stats.n_postings AS BIGINT) AS n_postings,
           CAST(stats.sum_df2 AS BIGINT) AS sum_df2,
           CAST(stats.plain_cand_pairs AS BIGINT) AS plain_cand_pairs,
           CAST(ps.prefix_cand_pairs AS BIGINT) AS prefix_cand_pairs,
           stats.sum_df2 > 50 * stats.n_postings AS prefix_chosen
    FROM nd, stats, ps
    """,
)
def x241_near_dup_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Would the adaptive Jaccard join take the PPJoin prefix path on
    this corpus, and what candidate volume does each strategy imply?"""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import near_dup_plan_audit

    docs = load_table(spark, sf_dir, "documents")
    return near_dup_plan_audit(docs, threshold=0.2, n=3)


# --------------------------------------------------------------------------
# Registration-order window. The driver hash-checks only the FIRST 50
# registered queries per round; the rotation policy is BY STALENESS —
# and since round 8 the rotation is COMPUTED, not hand-cut: the window
# is derived at import time from the committed CORRECTNESS_r*.json
# ledgers (the driver's own reports), ordering oracle queries by
# (newest driver-green round, name) ascending so never-confirmed
# debuts lead, then the least-recently-confirmed. When the driver's
# next artifact lands, the window self-rotates — the r7 "shipped with
# its own staleness gate red" process defect cannot recur, because
# there is no list to forget to update. Invariants pinned in
# tests/test_registry_window.py.
# --------------------------------------------------------------------------
WINDOW_SIZE = 50

# Queries whose OUTPUT or physical plan changed this round and must not
# coast on an older green row: they take window slots ahead of the
# ordinary staleness rotation. Self-draining — once the driver's next
# artifact re-confirms them they rotate like everyone else, but REMOVE
# entries here once re-confirmed so the slots free up.
FORCE_RECHECK: list[str] = [
    # r10: empty — all four r9 entries (x225, c03_encode_scale, x224,
    # x15_mondrian) were driver-confirmed in CORRECTNESS_r09.json, so the
    # slots return to the staleness rotation (which now leads with the
    # 6-round-stale r3 cohort, x30-x43). The r10 code changes (accountant
    # soundness, CC checkpoint freeing, msttr id_col, x228 shared
    # tokenization + twin COALESCE) alter NO committed release hash —
    # verified by the local full sweep before commit.
]


def _driver_green_ledger() -> dict[str, int]:
    """name -> newest round with a driver-issued hash-match, read from
    the committed CORRECTNESS_r<N>.json artifacts. Local sweep artifacts
    (CORRECTNESS_local_*.json) deliberately do NOT count — the driver's
    hash is the contract."""
    import json
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent
    last: dict[str, int] = {}
    for f in root.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)", f.stem)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            data = json.loads(f.read_text())
        except (OSError, ValueError):
            continue
        for name, row in data.items():
            if isinstance(row, dict) and row.get("hash_match"):
                last[name] = max(last.get(name, 0), rnd)
    return last


def _driver_window() -> list[str]:
    last = _driver_green_ledger()
    rotation = sorted(
        (n for n in QUERIES if n in ORACLE_SQL and n not in FORCE_RECHECK),
        key=lambda n: (last.get(n, -1), n),
    )
    window = [n for n in FORCE_RECHECK if n in QUERIES] + rotation
    return window[:WINDOW_SIZE]


_DRIVER_WINDOW = _driver_window()


def _reorder_for_driver_window() -> None:
    ordered = (
        [n for n in _DRIVER_WINDOW if n in QUERIES]
        + [n for n in QUERIES if n in ORACLE_SQL and n not in _DRIVER_WINDOW]
        + [n for n in QUERIES if n not in ORACLE_SQL]
    )
    reordered = {n: QUERIES[n] for n in ordered}
    QUERIES.clear()
    QUERIES.update(reordered)


_reorder_for_driver_window()
