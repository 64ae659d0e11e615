"""Extension operators: DP, dedup, similarity, text (SURVEY §2c)."""

from __future__ import annotations


import pytest
from pyspark.sql import functions as F

from dbms_data_anonymity_differential_privacy_spark import dp_count, dp_sum, load_table
from dbms_data_anonymity_differential_privacy_spark.operators.dedup import (
    dedup_exact,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from dbms_data_anonymity_differential_privacy_spark.operators.similarity import ann_topk_lsh, cosine_topk
from dbms_data_anonymity_differential_privacy_spark.operators.text import text_stats, with_text_features


def test_dp_count_noise_properties(spark, sf0001):
    li = load_table(spark, sf0001, "lineitem")
    out = dp_count(li, ["l_returnflag"], epsilon=1.0, seed=42, release="t").collect()
    exact = {r.l_returnflag: r.count_exact for r in out}
    noisy = {r.l_returnflag: r.count_dp for r in out}
    # deterministic under re-execution (partitioning-independent noise)
    out2 = dp_count(
        li.repartition(7), ["l_returnflag"], epsilon=1.0, seed=42, release="t"
    ).collect()
    assert {r.l_returnflag: r.count_dp for r in out2} == noisy
    # different seed → different noise
    out3 = dp_count(li, ["l_returnflag"], epsilon=1.0, seed=7, release="t").collect()
    assert {r.l_returnflag: r.count_dp for r in out3} != noisy
    # noise is Laplace(1/eps)-scaled: |noise| < 20/eps w.p. ~1-2e-9
    for k, v in noisy.items():
        assert abs(v - exact[k]) < 20.0


def test_dp_sum_clipping(spark, sf0001):
    li = load_table(spark, sf0001, "lineitem")
    out = dp_sum(
        li, ["l_returnflag"], "l_quantity", epsilon=1.0, lower=0.0, upper=10.0, release="t"
    )
    rows = out.collect()
    # clipped exact sum <= 10 * count
    counts = {r.l_returnflag: r["cnt"] for r in
              li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    for r in rows:
        assert r.sum_exact <= 10.0 * counts[r.l_returnflag] + 1e-9


def test_dp_gaussian_noise_properties(spark, sf0001):
    """Gaussian mechanism: deterministic under repartitioning, empirical
    noise moments match the calibrated sigma over many groups."""
    from dbms_data_anonymity_differential_privacy_spark import dp_count_gaussian, gaussian_sigma

    li = load_table(spark, sf0001, "lineitem")
    # high-cardinality grouping -> enough noise draws for moment checks
    out = dp_count_gaussian(
        li, ["l_partkey"], epsilon=0.5, delta=1e-6, seed=42, release="t"
    )
    rows = out.collect()
    noise = [r.count_dp - r.count_exact for r in rows]
    assert len(noise) > 100
    sigma = gaussian_sigma(0.5, 1e-6, 1.0)
    import statistics

    assert abs(statistics.fmean(noise)) < sigma  # mean ~ 0
    assert 0.6 * sigma < statistics.stdev(noise) < 1.4 * sigma
    # partition-layout independence
    out2 = dp_count_gaussian(
        li.repartition(7), ["l_partkey"], epsilon=0.5, delta=1e-6, seed=42, release="t"
    )
    assert {(r.l_partkey, r.count_dp) for r in out2.collect()} == {
        (r.l_partkey, r.count_dp) for r in rows
    }
    with pytest.raises(ValueError):
        gaussian_sigma(2.0, 1e-6, 1.0)  # classic mechanism needs eps < 1


def test_dp_mode_exponential_mechanism(spark, sf0001):
    """dp_mode: one row per group; huge epsilon recovers the true mode;
    deterministic under repartitioning."""
    from dbms_data_anonymity_differential_privacy_spark import dp_mode

    docs = load_table(spark, sf0001, "documents")
    out = dp_mode(docs, ["source"], "lang", epsilon=1e6, seed=42, release="t")
    rows = out.collect()
    n_groups = docs.select("source").distinct().count()
    assert len(rows) == n_groups
    # with eps -> inf the Gumbel noise vanishes: winner = true modal count
    true_max = {
        r.source: r.m
        for r in docs.groupBy("source", "lang")
        .count()
        .groupBy("source")
        .agg(F.max("count").alias("m"))
        .collect()
    }
    for r in rows:
        assert r.score_exact == true_max[r.source]
    out2 = dp_mode(
        docs.repartition(5), ["source"], "lang", epsilon=1.0, seed=42, release="t"
    )
    out1 = dp_mode(docs, ["source"], "lang", epsilon=1.0, seed=42, release="t")
    assert sorted(map(tuple, out1.collect())) == sorted(map(tuple, out2.collect()))


def test_dedup_exact_deterministic_representative(spark, sf0001):
    docs = load_table(spark, sf0001, "documents")
    d = dedup_exact(docs, ["lang"], "doc_id")
    rows = {r.lang: r.doc_id for r in d.collect()}
    # representative is the MIN doc_id of each group
    mins = {
        r.lang: r.m
        for r in docs.groupBy("lang").agg(F.min("doc_id").alias("m")).collect()
    }
    assert rows == mins


def test_minhash_recall_vs_exact(spark, sf001):
    """MinHash-LSH at high threshold must recover the exact-Jaccard pairs
    (planted near-dups have J≈0.99 → band collision probability ~1)."""
    docs = load_table(spark, sf001, "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.8, n=3).collect()
    }
    approx = {
        (r.id_a, r.id_b) for r in minhash_lsh_pairs(docs, threshold=0.8, n=3).collect()
    }
    assert exact, "test corpus should contain planted near-duplicates"
    assert approx == exact  # re-scored with exact Jaccard → no false positives


def test_simhash_finds_planted_dups(spark, sf001):
    docs = load_table(spark, sf001, "documents")
    planted = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.8, n=3).collect()
    }
    sim = {(r.id_a, r.id_b) for r in simhash_pairs(docs, max_hamming=3).collect()}
    # near-identical docs must land within hamming 3 (same token multiset ±ε)
    assert planted & sim == planted


def test_simhash_topm_caps_and_matches_uncapped(spark, sf001):
    """The cap-and-rank variant must be exactly the symmetrized uncapped
    pair set, truncated to m per doc by (hamming, nbr_id) — no pair
    invented, none missed below the cap."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import simhash_pairs_topm

    docs = load_table(spark, sf001, "documents")
    m = 2
    capped = simhash_pairs_topm(docs, m=m, max_hamming=3).collect()
    per_doc: dict[int, list] = {}
    for r in capped:
        per_doc.setdefault(r.doc_id, []).append(r)
    assert all(len(v) <= m for v in per_doc.values())
    full = simhash_pairs(docs, max_hamming=3).collect()
    sym: dict[int, list] = {}
    for r in full:
        sym.setdefault(r.id_a, []).append((r.hamming, r.id_b))
        sym.setdefault(r.id_b, []).append((r.hamming, r.id_a))
    expect = {d: sorted(v)[:m] for d, v in sym.items()}
    got = {d: sorted((r.hamming, r.nbr_id) for r in v) for d, v in per_doc.items()}
    assert got == expect


def test_cosine_pairs_topm_exact_vs_bruteforce(spark, sf0001):
    """cosine_pairs_topm == brute-force per-id top-m on the full scored
    pair matrix (bit-exact: same fold, same rounding, same tie order)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.similarity import (
        cosine_pairs_topm,
    )

    emb = load_table(spark, sf0001, "embeddings")
    m = 3
    got = {
        (r.id_a, r.rnk): (r.id_b, r.cos)
        for r in cosine_pairs_topm(emb, m=m).collect()
    }
    rows = emb.select("vec_id", "embedding").collect()
    import math

    def cos(a, b):
        dot = na = nb = 0.0
        for x, y in zip(a, b):
            dot += float(x) * float(y)
            na += float(x) * float(x)
            nb += float(y) * float(y)
        d = math.sqrt(na) * math.sqrt(nb)
        return round(dot / d, 6) if d != 0 else None

    ids = [(r.vec_id, [float(x) for x in r.embedding]) for r in rows]
    n_checked = 0
    for i, vi in ids[:20]:  # spot-check a prefix; full n^2 in python is slow
        scored = sorted(
            ((-(cos(vi, vj) or float("-inf")), j) for j, vj in ids if j != i)
        )[:m]
        for rnk, (negc, j) in enumerate(scored, start=1):
            assert got[(i, rnk)][0] == j
            n_checked += 1
    assert n_checked == 20 * m


def test_cosine_pairs_topm_arrow_matches_sql(spark, sf0001):
    """The BLAS flavor must produce the same ranked neighbor lists as the
    oracle-hashed sql flavor (same ties, same NULLS LAST, same cap)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.similarity import (
        cosine_pairs_topm,
    )

    emb = load_table(spark, sf0001, "embeddings")
    sql_rows = {
        (r.id_a, r.rnk): r.id_b
        for r in cosine_pairs_topm(emb, m=4, block_col="label", impl="sql").collect()
    }
    arrow_rows = {
        (r.id_a, r.rnk): r.id_b
        for r in cosine_pairs_topm(emb, m=4, block_col="label", impl="arrow").collect()
    }
    assert sql_rows == arrow_rows
    assert len(sql_rows) > 0


def test_cosine_topk_self_first(spark, sf0001):
    emb = load_table(spark, sf0001, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    top = cosine_topk(emb, [float(x) for x in q], k=5).collect()
    assert top[0].vec_id == 0  # the query vector itself ranks first
    assert top[0].cos == pytest.approx(1.0, abs=1e-6)
    cosines = [r.cos for r in top]
    assert cosines == sorted(cosines, reverse=True)


def test_ann_lsh_subset_of_exact_scores(spark, sf0001):
    emb = load_table(spark, sf0001, "embeddings")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]]
    exact = {r.vec_id: r.cos for r in cosine_topk(emb, q, k=500).collect()}
    approx = ann_topk_lsh(emb, q, k=10, n_planes=4).collect()
    assert approx, "query's own bucket is never empty"
    assert approx[0].vec_id == 0
    for r in approx:
        assert exact[r.vec_id] == pytest.approx(r.cos, abs=1e-9)


def test_text_features_sane(spark, sf0001):
    docs = load_table(spark, sf0001, "documents")
    feats = with_text_features(docs).collect()
    for r in feats:
        assert r.n_chars_calc == r.n_chars  # generator stored true length
        assert r.n_tokens > 0
        assert r.n_bpe_tokens >= r.n_tokens  # BPE-ish splits at least as fine
        assert 0.0 <= r.quality <= 1.0
        assert len(r.fingerprint) == 32
    stats = text_stats(docs).collect()
    assert sum(r.n_docs for r in stats) == docs.count()


def test_streaming_matches_batch(spark, sf0001, tmp_path):
    """X6: the Structured Streaming windowed k-anon over the events file
    (availableNow → memory sink) must equal the batch twin exactly."""
    from dbms_data_anonymity_differential_privacy_spark.streaming.anonymize import (
        windowed_kanon_batch,
        windowed_kanon_stream,
    )

    ev = load_table(spark, sf0001, "events")
    batch = {
        (r.window_start, r.event_type): r.cnt
        for r in windowed_kanon_batch(ev, k=5, window="1 day").collect()
    }
    # file stream sources need a directory
    import shutil

    stream_dir = tmp_path / "events"
    stream_dir.mkdir()
    shutil.copy(f"{sf0001}/events.parquet", stream_dir / "part-000.parquet")
    stream_df = windowed_kanon_stream(spark, str(stream_dir), k=5, window="1 day", watermark="2 days")
    q = (
        stream_df.writeStream.format("memory")
        .queryName("x6_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start, r.event_type): r.cnt
        for r in spark.sql("SELECT * FROM x6_test").collect()
    }
    assert got == batch
    assert len(batch) > 0


def test_streaming_pii_redaction_matches_batch(spark, sf0001, tmp_path):
    """Map-only operators compose into Structured Streaming unchanged:
    the PII redact+count projection over a readStream must produce
    byte-identical rows to the batch run on the same file — the property
    that lets one scrubbing definition serve both the 100 TB backfill and
    the live ingest path."""
    import shutil

    from dbms_data_anonymity_differential_privacy_spark.operators.pii import (
        redact_pii,
        with_pii_counts,
    )

    docs = load_table(spark, sf0001, "documents")

    def scrub(df):
        return with_pii_counts(df, "text").withColumn(
            "text_redacted", redact_pii(F.col("text"))
        ).select("doc_id", "pii_total", "text_redacted")

    batch = {r.doc_id: (r.pii_total, r.text_redacted) for r in scrub(docs).collect()}

    stream_dir = tmp_path / "docs"
    stream_dir.mkdir()
    shutil.copy(f"{sf0001}/documents.parquet", stream_dir / "part-000.parquet")
    stream = spark.readStream.schema(docs.schema).parquet(str(stream_dir))
    q = (
        scrub(stream)
        .writeStream.format("memory")
        .queryName("pii_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.doc_id: (r.pii_total, r.text_redacted)
        for r in spark.sql("SELECT * FROM pii_stream_test").collect()
    }
    assert got == batch
    assert len(batch) > 0


def test_dp_topk_gumbel(spark, sf0001):
    """dp_topk: k rows per group with distinct candidates; huge epsilon
    recovers the true top-k counts; deterministic under repartitioning."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_topk

    docs = load_table(spark, sf0001, "documents")
    out = dp_topk(docs, ["source"], "lang", k=3, epsilon=1e6, seed=42, release="t").collect()
    per_group: dict[str, list] = {}
    for r in out:
        per_group.setdefault(r.source, []).append(r)
    true_counts = {
        (r.source, r.lang): r["cnt"]
        for r in docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    for src, rows in per_group.items():
        assert len(rows) == len({r.lang for r in rows}) <= 3
        got = sorted((r.score_exact for r in rows), reverse=True)
        best = sorted(
            (c for (s, _), c in true_counts.items() if s == src), reverse=True
        )[: len(rows)]
        assert got == best  # eps->inf: selected counts = the true top counts
    out1 = dp_topk(docs, ["source"], "lang", k=2, epsilon=1.0, seed=42, release="t").collect()
    out2 = dp_topk(
        docs.repartition(5), ["source"], "lang", k=2, epsilon=1.0, seed=42, release="t"
    ).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    with pytest.raises(ValueError):
        dp_topk(docs, ["source"], "lang", k=0, epsilon=1.0, release="t")


def test_dp_quantile_interval_mechanism(spark, sf0001):
    """dp_quantile (Smith interval mechanism): huge epsilon selects a
    max-utility interval; output lies inside the public bounds;
    deterministic under repartitioning; invalid params refuse."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_quantile, quantile_scores

    li = load_table(spark, sf0001, "lineitem")
    out = dp_quantile(
        li, ["l_returnflag"], "l_quantity", q=0.5, epsilon=1e6, lower=0.0,
        upper=60.0, seed=42, release="t",
    )
    rows = {r.l_returnflag: (r.l_quantity, r.score_exact) for r in out.collect()}
    # the interval utilities {-|C_j - qn|} (inclusive cumsums + the leading
    # zero) contain every exclusive-cumsum utility of quantile_scores, and
    # at q=0.5 the extras (C_m = n) never beat them -> same max utility
    best = {
        r.l_returnflag: r.m
        for r in quantile_scores(li, ["l_returnflag"], "l_quantity", 0.5)
        .groupBy("l_returnflag")
        .agg(F.max("score").alias("m"))
        .collect()
    }
    for rf, (v, s) in rows.items():
        assert s == best[rf]  # eps->inf: noise vanishes, a max-utility interval wins
        assert 0.0 <= v <= 60.0  # sampled point inside the public bounds
    out2 = dp_quantile(
        li.repartition(9), ["l_returnflag"], "l_quantity", q=0.5, epsilon=1.0,
        lower=0.0, upper=60.0, seed=42, release="t",
    )
    out1 = dp_quantile(
        li, ["l_returnflag"], "l_quantity", q=0.5, epsilon=1.0, lower=0.0,
        upper=60.0, seed=42, release="t",
    )
    assert sorted(map(tuple, out1.collect())) == sorted(map(tuple, out2.collect()))
    with pytest.raises(ValueError):
        dp_quantile(
            li, ["l_returnflag"], "l_quantity", q=1.5, epsilon=1.0, lower=0.0,
            upper=60.0, release="t",
        )
    with pytest.raises(ValueError):
        dp_quantile(
            li, ["l_returnflag"], "l_quantity", q=0.5, epsilon=1.0, lower=60.0,
            upper=0.0, release="t",
        )


def test_ncp_approx_close_to_exact(spark, sf001):
    """The HLL++ scale path of NCP must land within a few percent of exact
    (ratios of same-column cardinalities cancel most sketch bias)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.kanonymity import k_anonymize_suppress
    from dbms_data_anonymity_differential_privacy_spark.operators.metrics import ncp

    cust = load_table(spark, sf001, "customer")
    qi = ["c_nationkey", "c_mktsegment", "c_acctbal"]
    anon = k_anonymize_suppress(cust, ["c_nationkey", "c_mktsegment"], 5)
    exact = ncp(cust, anon, qi).first()["ncp"]
    approx = ncp(cust, anon, qi, exact=False, rsd=0.01).first()["ncp"]
    assert abs(approx - exact) <= max(0.03, 0.05 * abs(exact) + 1e-9)


def test_streaming_dedup_matches_batch_keys(spark, sf0001, tmp_path):
    """Watermarked streaming dedup must produce exactly one row per key,
    over exactly the keys the batch twin keeps (representatives may differ:
    streaming keeps first-arrival, batch keeps min event_id)."""
    import shutil

    from dbms_data_anonymity_differential_privacy_spark.streaming.dedup import (
        dedup_events_batch,
        dedup_events_stream,
    )

    ev = load_table(spark, sf0001, "events")
    batch_keys = {
        (r.user_id, r.event_type) for r in dedup_events_batch(ev).collect()
    }
    stream_dir = tmp_path / "events_dedup"
    stream_dir.mkdir()
    shutil.copy(f"{sf0001}/events.parquet", stream_dir / "part-000.parquet")
    q = (
        dedup_events_stream(spark, str(stream_dir), watermark="2 days")
        .writeStream.format("memory")
        .queryName("dedup_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT user_id, event_type FROM dedup_stream_test").collect()
    got = [(r.user_id, r.event_type) for r in rows]
    assert len(got) == len(set(got))  # one row per key
    assert set(got) == batch_keys
    assert ev.count() > len(batch_keys)  # the dedup actually removed rows


def test_dp_stream_release_identical_to_batch(spark, sf0001, tmp_path):
    """The streaming DP release must equal the batch twin BYTE-FOR-BYTE,
    noise included — the point of hash-derived noise: replays and
    re-emissions carry the same noise instead of fresh draws."""
    import shutil

    from dbms_data_anonymity_differential_privacy_spark.streaming.anonymize import (
        dp_windowed_count_batch,
        dp_windowed_count_stream,
    )

    ev = load_table(spark, sf0001, "events")
    batch = {
        (r.window_start, r.event_type): (r.count_exact, r.count_dp)
        for r in dp_windowed_count_batch(ev, epsilon=1.0, window="1 day", seed=42).collect()
    }
    stream_dir = tmp_path / "events_dp"
    stream_dir.mkdir()
    shutil.copy(f"{sf0001}/events.parquet", stream_dir / "part-000.parquet")
    q = (
        dp_windowed_count_stream(
            spark, str(stream_dir), epsilon=1.0, window="1 day", watermark="2 days", seed=42
        )
        .writeStream.format("memory")
        .queryName("dp_stream_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_dp"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start, r.event_type): (r.count_exact, r.count_dp)
        for r in spark.sql("SELECT * FROM dp_stream_test").collect()
    }
    assert got == batch
    assert len(batch) > 0
    assert any(exact != dp for exact, dp in batch.values())  # noise present


def test_ivf_topk_recall(spark, sf0001):
    from dbms_data_anonymity_differential_privacy_spark.operators.similarity import ivf_index, ivf_topk
    from dbms_data_anonymity_differential_privacy_spark import load_table

    emb = load_table(spark, sf0001, "embeddings")
    q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    exact = {r["vec_id"] for r in cosine_topk(emb, q, k=10).collect()}
    indexed, centroids = ivf_index(emb, n_lists=8, seed=42)
    # probing every list == exact (sanity: IVF with full probe is lossless)
    full = {r["vec_id"] for r in ivf_topk(indexed, centroids, q, k=10, n_probe=8).collect()}
    assert full == exact
    # partial probe: the query's own vector must survive, recall is partial
    part = {r["vec_id"] for r in ivf_topk(indexed, centroids, q, k=10, n_probe=2).collect()}
    assert 0 in part
    assert len(part & exact) >= 5


def test_stateful_kanon_gate(spark, sf0001, tmp_path):
    """applyInPandasWithState cumulative gate: driving the whole events
    file through availableNow must publish exactly the groups the batch
    threshold publishes (with identical counts)."""
    import shutil

    from dbms_data_anonymity_differential_privacy_spark.streaming.anonymize import EVENTS_SCHEMA
    from dbms_data_anonymity_differential_privacy_spark.streaming.stateful import (
        kanon_gate_batch,
        kanon_gate_stateful,
    )

    ev = load_table(spark, sf0001, "events")
    batch = {(r.event_type, r.cnt) for r in kanon_gate_batch(ev, k=50).collect()}

    stream_dir = tmp_path / "events_state"
    stream_dir.mkdir()
    shutil.copy(f"{sf0001}/events.parquet", stream_dir / "part-000.parquet")
    raw = spark.readStream.schema(EVENTS_SCHEMA).parquet(str(stream_dir))
    gated = kanon_gate_stateful(raw, k=50)
    q = (
        gated.writeStream.format("memory")
        .queryName("kanon_gate_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .start()
    )
    q.awaitTermination(120)
    # update mode may emit a key several times (once per batch after
    # crossing k) — the LAST update per key is the published value
    rows = spark.sql("SELECT * FROM kanon_gate_test").collect()
    last: dict[str, int] = {}
    for r in rows:
        last[r.event_type] = max(last.get(r.event_type, 0), r.cnt)
    assert set(last.items()) == batch
    assert len(batch) > 0


def test_privacy_budget_accounting(spark, sf0001):
    import pytest as _pytest

    from dbms_data_anonymity_differential_privacy_spark.operators.dp import (
        BudgetExceededError,
        PrivacyBudget,
        dp_count,
    )

    ev = load_table(spark, sf0001, "events")
    budget = PrivacyBudget(1.5)
    dp_count(ev, ["event_type"], epsilon=1.0, budget=budget).collect()
    assert budget.spent == _pytest.approx(1.0)
    assert budget.remaining == _pytest.approx(0.5)
    # second release exceeding the remainder must refuse BEFORE running
    with _pytest.raises(BudgetExceededError):
        dp_count(ev, ["event_type"], epsilon=1.0, budget=budget)
    # ledger records labels for audit
    assert budget.ledger[0][0] == "dp_count:event_type"


def test_budget_end_to_end(spark, sf0001):
    """The composite walk-through auditors ask for: one PrivacyBudget
    drives a whole release pipeline (count + histogram + quantile), the
    ledger tracks every release with a distinct nonce, a release that
    would overdraw is refused with the ledger UNCHANGED, the exact
    remainder is still spendable, and repeated releases of the same query
    carry independent noise (the nonce scheme, observed end-to-end)."""
    import pytest as _pytest

    from dbms_data_anonymity_differential_privacy_spark.operators.dp import (
        BudgetExceededError,
        PrivacyBudget,
        dp_count,
        dp_histogram,
        dp_quantile,
    )

    ev = load_table(spark, sf0001, "events")
    budget = PrivacyBudget(2.0)

    r1 = dp_count(ev, ["event_type"], epsilon=0.5, budget=budget).collect()
    r2 = dp_histogram(
        ev, "value", n_bins=4, epsilon=0.75, lower=0.0, upper=100.0, budget=budget
    ).collect()
    dp_quantile(
        ev, ["event_type"], "value", q=0.5, epsilon=0.5,
        lower=0.0, upper=100.0, budget=budget,
    ).collect()
    assert budget.spent == _pytest.approx(1.75)
    assert budget.remaining == _pytest.approx(0.25)
    assert len(budget.ledger) == 3
    assert len({label for label, _, _ in budget.ledger}) == 3  # distinct audit labels
    assert r2, "histogram release must emit all public bins"

    # Overdraw refused BEFORE any computation; ledger must not grow.
    with _pytest.raises(BudgetExceededError):
        dp_count(ev, ["event_type"], epsilon=0.5, budget=budget)
    assert len(budget.ledger) == 3
    assert budget.remaining == _pytest.approx(0.25)

    # The exact remainder is still spendable — refusal didn't burn it.
    r4 = dp_count(ev, ["event_type"], epsilon=0.25, budget=budget).collect()
    assert budget.remaining == _pytest.approx(0.0)

    # Exhausted: every further release refuses, however small.
    with _pytest.raises(BudgetExceededError):
        dp_count(ev, ["event_type"], epsilon=1e-6, budget=budget)

    # Same query, same seed, two ledger slots → different nonces → the
    # noise must differ (else differencing the two releases cancels it).
    n1 = {tuple(r[c] for c in ("event_type",)): r["count_dp"] for r in r1}
    n4 = {tuple(r[c] for c in ("event_type",)): r["count_dp"] for r in r4}
    assert set(n1) == set(n4)
    assert any(n1[k] != n4[k] for k in n1)


def test_privacy_budget_delta_accounting(spark, sf0001):
    """(eps, delta) composition: Gaussian releases spend delta; a pure-eps
    budget refuses any Gaussian release; exceeding the delta allowance
    refuses even when epsilon remains."""
    import pytest as _pytest

    from dbms_data_anonymity_differential_privacy_spark.operators.dp import (
        BudgetExceededError,
        PrivacyBudget,
        dp_count_gaussian,
    )

    ev = load_table(spark, sf0001, "events")
    budget = PrivacyBudget(2.0, total_delta=1e-6)
    dp_count_gaussian(ev, ["event_type"], epsilon=0.5, delta=1e-6, budget=budget).collect()
    assert budget.spent == _pytest.approx(0.5)
    assert budget.spent_delta == _pytest.approx(1e-6)
    # epsilon remains (1.5) but the delta allowance is exhausted
    with _pytest.raises(BudgetExceededError):
        dp_count_gaussian(ev, ["event_type"], epsilon=0.5, delta=1e-6, budget=budget)
    # a pure-eps accountant (total_delta=0) refuses Gaussian outright
    pure = PrivacyBudget(10.0)
    with _pytest.raises(BudgetExceededError):
        dp_count_gaussian(ev, ["event_type"], epsilon=0.5, delta=1e-6, budget=pure)


def test_zcdp_budget_accounting():
    """rho-zCDP accountant: rho adds across releases, Gaussian releases cost
    eps^2/(4 ln(1.25/delta)), pure-DP releases eps^2/2; composition is
    tighter than sequential (eps, delta) for repeated Gaussian releases;
    exceeding total_rho raises. Duck-types PrivacyBudget.spend."""
    import math

    import pytest as _pytest

    from dbms_data_anonymity_differential_privacy_spark.operators.dp import (
        BudgetExceededError,
        ZCDPBudget,
    )

    b = ZCDPBudget(total_rho=0.2)
    b.spend(0.5, "gauss", delta=1e-6, mechanism="gaussian")
    b.spend(0.5, "laplace")  # delta=0 -> pure-DP conversion
    rho_gauss = 0.25 / (4.0 * math.log(1.25e6))
    assert b.spent_rho == _pytest.approx(rho_gauss + 0.125)
    # Prop 1.3 conversion is monotone in rho and exceeds rho itself
    eps_total = b.epsilon_at(1e-6)
    assert eps_total > b.spent_rho
    # 20 Gaussian releases at eps=0.5: sequential composition says eps=10;
    # zCDP says rho = 20 * rho_gauss -> far tighter total epsilon
    many = ZCDPBudget(total_rho=1.0)
    for i in range(20):
        many.spend(0.5, f"g{i}", delta=1e-6, mechanism="gaussian")
    assert many.epsilon_at(1e-6) < 10.0 / 2
    with _pytest.raises(BudgetExceededError):
        over = ZCDPBudget(total_rho=rho_gauss * 1.5)
        over.spend(0.5, "a", delta=1e-6, mechanism="gaussian")
        over.spend(0.5, "b", delta=1e-6, mechanism="gaussian")


def test_zcdp_budget_drives_mechanism(spark, sf0001):
    """A ZCDPBudget passed where mechanisms take `budget` must account the
    release and gate it when exhausted — same call sites as PrivacyBudget."""
    import pytest as _pytest

    from dbms_data_anonymity_differential_privacy_spark.operators.dp import (
        BudgetExceededError,
        ZCDPBudget,
        dp_count,
        dp_count_gaussian,
    )

    ev = load_table(spark, sf0001, "events")
    b = ZCDPBudget(total_rho=0.13)
    dp_count_gaussian(ev, ["event_type"], epsilon=0.5, delta=1e-6, budget=b).collect()
    dp_count(ev, ["event_type"], epsilon=0.5, budget=b).collect()
    assert 0 < b.spent_rho <= 0.13
    with _pytest.raises(BudgetExceededError):
        dp_count(ev, ["event_type"], epsilon=0.5, budget=b)


def test_embedding_near_dup_recall(spark, sf0001):
    """LSH-blocked near-dup must recover a solid share of the exact
    high-cosine pairs (full-probe exactness is impossible by design, but
    planted near-identical vectors share all hyperplane signs)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.similarity import (
        cosine_self_join_pairs,
        embedding_near_dup_pairs,
    )
    from dbms_data_anonymity_differential_privacy_spark import load_table

    emb = load_table(spark, sf0001, "embeddings")
    exact = {
        (r.id_a, r.id_b)
        for r in cosine_self_join_pairs(emb, threshold=0.5).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(emb, threshold=0.5, n_planes=6).collect()
    }
    assert approx <= exact  # no false positives (exact re-score inside)
    if exact:
        assert len(approx) / len(exact) >= 0.3


def test_embedding_dedup_drops_detected_components(spark, sf0001):
    """embedding_dedup must keep exactly one representative (the min id)
    per connected component of the detected pair graph and every
    untouched row — consistency with its own pair relation, end to end."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import connected_components
    from dbms_data_anonymity_differential_privacy_spark.operators.similarity import (
        embedding_dedup,
        embedding_near_dup_pairs,
    )
    from dbms_data_anonymity_differential_privacy_spark import load_table

    emb = load_table(spark, sf0001, "embeddings")
    pairs = embedding_near_dup_pairs(emb, threshold=0.3, n_planes=4)
    comp = connected_components(pairs).collect()
    expected_dropped = {r.id for r in comp if r.comp != r.id}
    assert expected_dropped, "fixture should contain detectable near-dups"
    kept = {
        r.vec_id
        for r in embedding_dedup(emb, threshold=0.3, n_planes=4).collect()
    }
    all_ids = {r.vec_id for r in emb.select("vec_id").collect()}
    assert kept == all_ids - expected_dropped


def test_group_percentiles_exact_and_sketch_band(spark, sf0001):
    """Exact percentiles bracket the data; the sketch path stays within
    the Greenwald-Khanna rank-error band of the exact values (the
    guarantee the 100 TB flavor rides on)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.metrics import group_percentiles

    ev = load_table(spark, sf0001, "events")
    exact = {r.event_type: (r.p50, r.p95) for r in
             group_percentiles(ev, ["event_type"], "value", ps=(0.5, 0.95)).collect()}
    lohi = {r.event_type: (r.lo, r.hi) for r in
            ev.groupBy("event_type").agg(F.min("value").alias("lo"), F.max("value").alias("hi")).collect()}
    for g, (p50, p95) in exact.items():
        lo, hi = lohi[g]
        assert lo <= p50 <= p95 <= hi
    approx = {r.event_type: (r.p50, r.p95) for r in
              group_percentiles(ev, ["event_type"], "value", ps=(0.5, 0.95), exact=False).collect()}
    # GK accuracy=10000 → rank error <= n/10000; at sf0.001 that's exact-ish,
    # assert a loose value band instead of ranks
    for g in exact:
        for e, a in zip(exact[g], approx[g]):
            assert abs(e - a) <= max(abs(e) * 0.05, 1.0)


def test_tokenization_consistent_across_text_operators(spark, sf0001):
    """vocab_stats and the per-doc token counter both claim the engine's
    one tokenization convention (lower, trim, whitespace split, empty
    tokens dropped). Drift between them would silently corrupt
    cross-operator pipelines: total corpus tokens must agree between the
    per-doc counts and the vocabulary's term frequencies."""
    from dbms_data_anonymity_differential_privacy_spark.operators.text import (
        token_count,
        vocab_stats,
    )

    docs = load_table(spark, sf0001, "documents")
    doc_total = docs.agg(F.sum(token_count(F.col("text")))).first()[0]
    # top_k far above the distinct-token count (covers the whole vocab)
    # but bounded: TakeOrdered allocates its heap eagerly, so a huge
    # literal limit risks driver memory for nothing
    vocab_total = (
        vocab_stats(docs, top_k=10**6).agg(F.sum("term_freq")).first()[0]
    )
    assert doc_total == vocab_total > 0


def test_degenerate_inputs_dont_crash(spark):
    """Empty and all-null inputs: operators must return empty/zero
    results, never a confusing runtime failure deep in a plan."""
    from dbms_data_anonymity_differential_privacy_spark import (
        k_anonymize_suppress,
        ncp,
        reid_risk,
    )
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import dedup_exact

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert dedup_exact(empty_docs, ["text"], "doc_id").count() == 0

    empty_cust = spark.createDataFrame(
        [], "c_custkey long, c_nationkey int, c_mktsegment string"
    )
    assert k_anonymize_suppress(empty_cust, ["c_nationkey", "c_mktsegment"], 5).count() == 0

    nulls = spark.createDataFrame(
        [(1, None, None), (2, None, None)],
        "c_custkey long, c_nationkey string, c_mktsegment string",
    )
    # NULL-QI contract (see k_anonymize_suppress docstring): rows with
    # NULL QI values are ALWAYS suppressed — SQL-equality semi-join, same
    # as the DuckDB oracle — whatever k
    assert k_anonymize_suppress(nulls, ["c_nationkey", "c_mktsegment"], 1).count() == 0
    n = ncp(nulls, nulls.limit(0), ["c_nationkey"]).first()
    assert n is not None  # defined (degenerate) rather than crashing


def test_publish_then_reaudit_roundtrip(spark, sf0001, tmp_path):
    """End-to-end: anonymize → publish release → re-read → audit must
    report k satisfied on the published artifact."""
    from dbms_data_anonymity_differential_privacy_spark import (
        bin_equal_width,
        k_anonymity_audit,
        k_anonymize_suppress,
        load_table,
        write_release,
    )

    c = bin_equal_width(load_table(spark, sf0001, "customer"), "c_acctbal", 5, "acctbal_bin")
    qi = ["c_mktsegment", "acctbal_bin"]
    anon = k_anonymize_suppress(c, qi, 5)
    out = str(tmp_path / "published")
    write_release(anon, out, partition_by=["c_mktsegment"])
    back = spark.read.parquet(out)
    audit = k_anonymity_audit(back, qi, 5).first()
    assert audit["k_satisfied"] is True
    assert audit["min_class_size"] >= 5


def test_dedup_ops_handle_degenerate_text(spark):
    """Empty, whitespace-only, and sub-n-token docs must flow through every
    dedup operator without errors and produce no pairs."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_pairs,
    )

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "one two"), (4, "a b c d e f"), (5, "a b c d e f")],
        "doc_id long, text string",
    )
    jac = ngram_jaccard_pairs(df, threshold=0.5, n=3).collect()
    assert {(r.id_a, r.id_b) for r in jac} == {(4, 5)}
    mh = minhash_lsh_pairs(df, threshold=0.5, n=3).collect()
    assert {(r.id_a, r.id_b) for r in mh} == {(4, 5)}
    sh = simhash_pairs(df, max_hamming=0).collect()
    assert (4, 5) in {(r.id_a, r.id_b) for r in sh}


def test_text_features_degenerate(spark):
    from dbms_data_anonymity_differential_privacy_spark import with_text_features

    df = spark.createDataFrame([(1, ""), (2, "   "), (3, "café ☕")], "doc_id long, text string")
    rows = {r.doc_id: r for r in with_text_features(df).collect()}
    assert rows[1].n_tokens == 0 and rows[2].n_tokens == 0
    assert rows[1].quality == 0.0
    assert rows[3].n_tokens == 2
    assert rows[1].lang_pred == "und"


def test_cosine_zero_vector_never_tops(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.similarity import cosine_topk

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.9, 0.1])],
        "vec_id long, embedding array<double>",
    )
    top = cosine_topk(df, [1.0, 0.0], k=2).collect()
    assert [r.vec_id for r in top] == [1, 3]  # zero vector excluded, not NaN-first


def test_near_dedup_corpus_invariants(spark, sf001):
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import (
        near_dedup_corpus,
        ngram_jaccard_pairs,
        dedup_exact,
    )
    from dbms_data_anonymity_differential_privacy_spark import load_table

    docs = load_table(spark, sf001, "documents")
    kept = near_dedup_corpus(docs, threshold=0.2, n=3, method="jaccard")
    assert kept.columns == docs.columns
    n_docs, n_kept = docs.count(), kept.count()
    assert 0 < n_kept <= n_docs
    # every dropped doc was the larger id of some qualifying pair
    stage1 = dedup_exact(docs, ["text"], "doc_id")
    pairs = ngram_jaccard_pairs(stage1, 0.2, 3)
    dropped = {r.doc_id for r in stage1.select("doc_id").subtract(kept.select("doc_id")).collect()}
    assert dropped == {r.id_b for r in pairs.collect()}
    # min id of any pair always survives stage-2 (greedy invariant)
    min_ids = {min(r.id_a, r.id_b) for r in pairs.collect()}
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert (min_ids - {r.id_b for r in pairs.collect()}) <= kept_ids


def test_dp_release_uniqueness_enforced(spark, sf0001):
    """ADVICE r1 (high): a release without budget OR release label refuses;
    distinct releases and distinct mechanisms never share noise draws, so
    linear combinations cannot cancel the noise."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import PrivacyBudget, dp_count, dp_sum

    li = load_table(spark, sf0001, "lineitem")
    with pytest.raises(ValueError, match="per-release"):
        dp_count(li, ["l_returnflag"], epsilon=1.0)
    # same mechanism, different release labels -> different noise
    a = {r.l_returnflag: r.count_dp
         for r in dp_count(li, ["l_returnflag"], epsilon=1.0, seed=42, release="r1").collect()}
    b = {r.l_returnflag: r.count_dp
         for r in dp_count(li, ["l_returnflag"], epsilon=1.0, seed=42, release="r2").collect()}
    assert a != b
    # accountant-issued nonces: two budget releases differ too
    budget = PrivacyBudget(10.0)
    c = {r.l_returnflag: r.count_dp
         for r in dp_count(li, ["l_returnflag"], epsilon=1.0, seed=42, budget=budget).collect()}
    d = {r.l_returnflag: r.count_dp
         for r in dp_count(li, ["l_returnflag"], epsilon=1.0, seed=42, budget=budget).collect()}
    assert c != d
    # different mechanisms under the SAME release label: noise still differs
    # (mechanism name baked into the salt), so sum/count draws are unshared
    sum_noise = {
        r.l_returnflag: r.sum_dp - r.sum_exact
        for r in dp_sum(li, ["l_returnflag"], "l_quantity", epsilon=1.0,
                        lower=0.0, upper=1.0, seed=42, release="shared").collect()
    }
    cnt_noise = {
        r.l_returnflag: r.count_dp - r.count_exact
        for r in dp_count(li, ["l_returnflag"], epsilon=1.0, seed=42, release="shared").collect()
    }
    # identical scale (sens=1, eps=1): equal values would mean a shared draw
    for k in sum_noise:
        assert abs(sum_noise[k] - cnt_noise[k]) > 1e-12


def test_dp_avg_noise_not_cancellable_with_dp_sum(spark, sf0001):
    """ADVICE r1 (high), the concrete attack: 2*avg_sum_release - sum_release
    must NOT recover the exact clipped sum (dp_avg's internal draws use
    mechanism salts distinct from dp_sum's)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_avg, dp_sum

    li = load_table(spark, sf0001, "lineitem")
    kw = dict(epsilon=1.0, lower=0.0, upper=10.0, seed=42)
    s1 = {r.l_returnflag: (r.sum_exact, r.sum_dp)
          for r in dp_sum(li, ["l_returnflag"], "l_quantity", release="rel-a", **kw).collect()}
    # attacker uses the same release label hoping to align the draws
    a1 = {r.l_returnflag: r.avg_dp
          for r in dp_avg(li, ["l_returnflag"], "l_quantity", release="rel-a", **kw).collect()}
    cnt = {r.l_returnflag: r["cnt"] for r in
           li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    for k, (exact, noisy) in s1.items():
        recovered = 2.0 * s1[k][1] - a1[k] * cnt[k]  # any linear combo attempt
        assert abs(recovered - exact) > 1e-6


def test_dp_histogram_public_bounds(spark, sf0001):
    """ADVICE r1 (medium): bin structure is data-independent — all bins
    released (zeros included), edges from the caller's public bounds, and
    out-of-range values clipped into the boundary bins."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_histogram

    li = load_table(spark, sf0001, "lineitem")
    out = dp_histogram(li, "l_quantity", 10, epsilon=1.0, lower=0.0, upper=100.0,
                       seed=42, release="t").collect()
    # ALL 10 bins appear even though l_quantity only spans [1, 50]
    assert sorted(r.bin for r in out) == list(range(10))
    empty_bins = {r.bin: r.count_exact for r in out if r.bin >= 6}  # (60, 100] unused
    assert all(c == 0 for c in empty_bins.values())  # empty bins released as 0
    total = sum(r.count_exact for r in out)
    assert total == li.count()  # clipping keeps every record in-range
    with pytest.raises(ValueError):
        dp_histogram(li, "l_quantity", 10, epsilon=1.0, lower=5.0, upper=5.0, release="t")


def test_dp_mode_public_candidate_domain(spark, sf0001):
    """ADVICE r1 (medium): with a public candidate domain, absent candidates
    enter the race scored 0 instead of being impossible."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import (
        _candidate_count_scores,
        dp_mode,
    )

    docs = load_table(spark, sf0001, "documents")
    domain = ["de", "en", "es", "fr", "zh", "xx"]  # 'xx' never occurs
    scores = _candidate_count_scores(docs, ["source"], "lang", domain)
    n_groups = docs.select("source").distinct().count()
    assert scores.count() == n_groups * len(domain)  # full public grid
    absent = scores.filter(F.col("lang") == "xx").collect()
    assert len(absent) == n_groups and all(r.score_exact == 0 for r in absent)
    # the mechanism still runs on the grid and returns one row per group
    out = dp_mode(docs, ["source"], "lang", epsilon=1e6, seed=42, release="t",
                  candidates=domain)
    assert out.count() == n_groups


def test_zcdp_invalid_delta_refused_before_charging():
    """ADVICE r1 (low): delta >= 1 raises instead of ZeroDivisionError /
    negative-rho budget credit, and an invalid Gaussian release leaves the
    accountant ledger untouched."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import PrivacyBudget, ZCDPBudget

    with pytest.raises(ValueError):
        ZCDPBudget.rho_of(1.0, delta=1.25, mechanism="gaussian")
    with pytest.raises(ValueError):
        ZCDPBudget.rho_of(1.0, delta=2.0, mechanism="gaussian")  # would be a negative-rho credit
    b = ZCDPBudget(total_rho=1.0)
    with pytest.raises(ValueError):
        b.spend(1.0, "bad", delta=1.5, mechanism="gaussian")
    assert b.ledger == []


def test_gaussian_invalid_params_do_not_charge_budget(spark, sf0001):
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import PrivacyBudget, dp_count_gaussian

    li = load_table(spark, sf0001, "lineitem")
    budget = PrivacyBudget(10.0, total_delta=1.0)
    with pytest.raises(ValueError):
        dp_count_gaussian(li, ["l_returnflag"], epsilon=2.0, delta=1e-6, budget=budget)
    assert budget.ledger == []  # calibration failed -> nothing charged


def test_dedup_corpus_components_vs_greedy(spark):
    """VERDICT r1 item 6: on the chain 1~3, 2~3 (3 transitively links 1 and
    2), greedy keeps {1, 2} but components collapses the cluster to {1};
    an isolated doc survives both."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import connected_components, dedup_corpus

    docs = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (9, "solo")], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(1, 3), (2, 3)], ["id_a", "id_b"])
    greedy = {r.doc_id for r in dedup_corpus(docs, pairs, policy="greedy").collect()}
    comps = {r.doc_id for r in dedup_corpus(docs, pairs, policy="components").collect()}
    assert greedy == {1, 2, 9}
    assert comps == {1, 9}
    labels = {r.id: r.comp for r in connected_components(pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1}
    # a long path 10-11-12-13 needs multiple propagation rounds
    chain = spark.createDataFrame([(10, 11), (11, 12), (12, 13)], ["id_a", "id_b"])
    labels2 = {r.id: r.comp for r in connected_components(chain).collect()}
    assert labels2 == {10: 10, 11: 10, 12: 10, 13: 10}
    with pytest.raises(ValueError):
        dedup_corpus(docs, pairs, policy="nope")


def test_connected_components_driver_vs_distributed(spark):
    """The driver union-find fast path and the distributed label
    propagation (forced via driver_threshold=0) must produce identical
    min-id labelings — on a chain (multi-round propagation), a clique,
    and an isolated pair, with and without pointer halving."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import connected_components

    edges = [(10, 11), (11, 12), (12, 13), (20, 21), (21, 22), (20, 22), (30, 31)]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    want = {r.id: r.comp for r in connected_components(pairs).collect()}
    assert want == {10: 10, 11: 10, 12: 10, 13: 10,
                    20: 20, 21: 20, 22: 20, 30: 30, 31: 30}
    dist = {
        r.id: r.comp
        for r in connected_components(pairs, driver_threshold=0).collect()
    }
    assert dist == want
    halved = {
        r.id: r.comp
        for r in connected_components(
            pairs, driver_threshold=0, shortcut=True
        ).collect()
    }
    assert halved == want


def test_near_dup_suite_matches_individual_detectors(spark, sf001):
    """The shared-tokenization suite must produce exactly the pairs each
    detector produces standalone (one tokenize pass, same results)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import near_dup_suite

    docs = load_table(spark, sf001, "documents")
    suite = near_dup_suite(docs, jaccard_threshold=0.8, minhash_threshold=0.8, max_hamming=3)
    jac = {(r.id_a, r.id_b) for r in suite["jaccard"].collect()}
    mh = {(r.id_a, r.id_b) for r in suite["minhash"].collect()}
    sh = {(r.id_a, r.id_b) for r in suite["simhash"].collect()}
    assert jac == {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs, threshold=0.8, n=3).collect()}
    assert mh == {(r.id_a, r.id_b) for r in minhash_lsh_pairs(docs, threshold=0.8, n=3).collect()}
    assert sh == {(r.id_a, r.id_b) for r in simhash_pairs(docs, max_hamming=3).collect()}
    assert jac  # planted near-dups exist


def test_svt_above_threshold(spark, sf0001):
    """SVT: eps->inf answers exactly (count >= T) in key order, halts after
    the c-th above; deterministic under repartitioning; missing release
    refused; budget charged once."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import PrivacyBudget, dp_above_threshold

    ev = load_table(spark, sf0001, "events")
    # sf0.001 counts: click 210, error 201, purchase 202, signup 199, view 188
    out = dp_above_threshold(
        ev, ["event_type"], threshold=200.5, epsilon=1e9, c=2, seed=42, release="t"
    ).collect()
    got = {r.event_type: r.above for r in out}
    # stream order: click(above,1) error(above,2) -> HALT; later queries unanswered
    assert got == {"click": True, "error": True}
    # c=5 answers everything (only 3 aboves in total, halt never reached)
    out5 = dp_above_threshold(
        ev, ["event_type"], threshold=200.5, epsilon=1e9, c=5, seed=42, release="t"
    ).collect()
    got5 = {r.event_type: r.above for r in out5}
    assert got5 == {
        "click": True, "error": True, "purchase": True, "signup": False, "view": False
    }
    # determinism across partitioning at finite epsilon
    a = sorted(map(tuple, dp_above_threshold(
        ev, ["event_type"], 200.5, epsilon=0.5, c=2, seed=42, release="t").collect()))
    b = sorted(map(tuple, dp_above_threshold(
        ev.repartition(7), ["event_type"], 200.5, epsilon=0.5, c=2, seed=42, release="t"
    ).collect()))
    assert a == b
    with pytest.raises(ValueError, match="per-release"):
        dp_above_threshold(ev, ["event_type"], 200.5, epsilon=1.0, c=2)
    budget = PrivacyBudget(1.0)
    dp_above_threshold(ev, ["event_type"], 200.5, epsilon=0.75, c=2, budget=budget).collect()
    assert budget.spent == pytest.approx(0.75)  # one charge for the whole stream


def test_sessionize_stream_matches_batch(spark, sf0001, tmp_path):
    """X11: streaming session_window only supports append mode, which
    emits a session once the watermark passes its close. With a 0-second
    watermark the final no-data microbatch advances the watermark to
    max(ts), so every session ending at or before max(ts) is finalized —
    exactly the batch twin restricted to closed sessions (the still-open
    tail sessions are the streaming-semantics remainder, not a bug)."""
    from dbms_data_anonymity_differential_privacy_spark.streaming.sessions import (
        sessionize_batch,
        sessionize_stream,
    )

    ev = load_table(spark, sf0001, "events")
    max_ts = ev.agg(F.max("ts")).first()[0]
    batch = {
        (r.user_id, r.session_start, r.session_end): r.n_events
        for r in sessionize_batch(ev, gap="30 minutes").collect()
        if r.session_end <= max_ts
    }
    import shutil

    stream_dir = tmp_path / "events"
    stream_dir.mkdir()
    shutil.copy(f"{sf0001}/events.parquet", stream_dir / "part-000.parquet")
    stream_df = sessionize_stream(
        spark, str(stream_dir), gap="30 minutes", watermark="0 seconds"
    )
    q = (
        stream_df.writeStream.format("memory")
        .queryName("x11_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_x11"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.session_start, r.session_end): r.n_events
        for r in spark.sql("SELECT * FROM x11_test").collect()
    }
    assert got == batch
    assert len(batch) > 0


def test_sessionize_gap_boundary(spark):
    """Events exactly `gap` apart merge (strict-> island rule); one second
    past the gap splits. Pins the semantics the DuckDB twin encodes."""
    import datetime as dt

    from dbms_data_anonymity_differential_privacy_spark.streaming.sessions import sessionize_batch

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base), (1, base + dt.timedelta(minutes=30)),
        (2, base), (2, base + dt.timedelta(minutes=30, seconds=1)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = sessionize_batch(df, gap="30 minutes")
    per_user = {r.user_id: r for r in out.groupBy("user_id").count().collect()}
    assert per_user[1]["count"] == 1  # merged
    assert per_user[2]["count"] == 2  # split


def test_simhash_combination_banding_exact(spark, sf001):
    """Combination banding (8 blocks of 4 bits, 5-block combo keys — the
    large-corpus physical strategy) must produce the IDENTICAL pair set as
    direct 4-block banding: both are pigeonhole-exact candidate
    generators for the same (bits=32, hamming<=3) detector, so the switch
    is output-invariant — the same guarantee the Jaccard prefix filter
    equivalence test pins."""
    docs = load_table(spark, sf001, "documents")
    direct = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_pairs(docs, max_hamming=3, n_blocks=4).collect()
    }
    combo = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_pairs(docs, max_hamming=3, n_blocks=8).collect()
    }
    assert direct == combo
    assert direct  # corpus contains planted near-dups
    with pytest.raises(ValueError, match="equal blocks"):
        simhash_pairs(docs, max_hamming=2, n_blocks=3)  # 32 % 3 != 0


def test_equal_frequency_binning_exact_and_approx(spark, sf0001):
    """Exact NTILE form: bin populations differ by at most 1 and bins are
    value-ordered. Approx sketch form (the 100 TB path, no global sort):
    bins are value-contiguous and populations land within a loose band of
    n/n_bins on real skewed data."""
    from dbms_data_anonymity_differential_privacy_spark.functions.binning import (
        bin_equal_frequency,
        bin_equal_frequency_approx,
    )

    c = load_table(spark, sf0001, "customer")
    n = c.count()
    n_bins = 10

    exact = bin_equal_frequency(c, "c_acctbal", n_bins, "b", tiebreak_cols=["c_custkey"])
    sizes = {r.b: r.cnt for r in exact.groupBy("b").agg(F.count("*").alias("cnt")).collect()}
    assert set(sizes) == set(range(n_bins))
    assert max(sizes.values()) - min(sizes.values()) <= 1
    assert sum(sizes.values()) == n
    # bins are ordered by value: max of bin i <= min of bin i+1
    stats = (
        exact.groupBy("b").agg(F.min("c_acctbal").alias("lo"), F.max("c_acctbal").alias("hi"))
        .orderBy("b").collect()
    )
    for prev, cur in zip(stats, stats[1:]):
        assert prev.hi <= cur.lo

    approx = bin_equal_frequency_approx(c, "c_acctbal", n_bins, "b")
    a_stats = (
        approx.groupBy("b").agg(
            F.count("*").alias("cnt"), F.min("c_acctbal").alias("lo"), F.max("c_acctbal").alias("hi")
        ).orderBy("b").collect()
    )
    assert sum(r.cnt for r in a_stats) == n
    for prev, cur in zip(a_stats, a_stats[1:]):
        assert prev.hi <= cur.lo
    # populations near n/n_bins (sketch is near-exact at this size; wide band
    # guards against distribution ties, not sketch error)
    for r in a_stats:
        assert r.cnt <= 3 * n / n_bins


def test_pii_detect_and_redact(spark):
    """Crafted rows: every PII type detected with the right count, the
    redaction chain removes ALL detectable PII (re-running detection on the
    redacted text yields zero), and NULL text flows through as count 0."""
    from dbms_data_anonymity_differential_privacy_spark.operators.pii import (
        pii_report,
        redact_pii,
        with_pii_counts,
    )

    rows = [
        (1, "mail a.b-c_d@ex-ample.co.uk and x@y.io today"),
        (2, "ssn 123-45-6789 ph 555-123-4567 at 10.0.0.1"),
        (3, "card 1234-5678-9012-3456 paid"),
        (4, "no pii here, just 12345 and v1.2 text"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r.id: r for r in with_pii_counts(df, "text").collect()}
    assert (out[1].pii_email, out[1].pii_total) == (2, 2)
    assert (out[2].pii_ssn, out[2].pii_phone, out[2].pii_ipv4, out[2].pii_total) == (1, 1, 1, 3)
    assert (out[3].pii_credit_card, out[3].pii_phone, out[3].pii_ssn) == (1, 0, 0)
    assert out[4].pii_total == 0
    assert out[5].pii_total == 0

    red = df.withColumn("text", redact_pii(F.col("text")))
    rr = {r.id: r for r in red.collect()}
    assert rr[2].text == "ssn [SSN] ph [PHONE] at [IPV4]"
    assert rr[3].text == "card [CREDIT_CARD] paid"
    assert rr[4].text == rows[3][1]  # untouched
    recheck = with_pii_counts(red, "text")
    assert recheck.agg(F.sum("pii_total")).first()[0] == 0

    rep = pii_report(df, "text").first()
    assert (rep.rows_with_email, rep.mentions_email) == (1, 2)
    assert (rep.rows_with_credit_card, rep.mentions_ssn) == (1, 1)


def test_repetition_metrics_crafted(spark):
    """Hand-computable docs: a pure loop ("a a a a") maxes both signals, a
    all-distinct doc zeroes dup_token_frac, and sub-2-token docs drop out."""
    from dbms_data_anonymity_differential_privacy_spark.operators.text import repetition_metrics

    df = spark.createDataFrame(
        [
            (1, "a a a a"),            # dup = 1 - 1/4; bigram 'a a' x3 of 3
            (2, "w x y z"),            # dup = 0; every bigram unique -> 1/3
            (3, "go stop go stop go"), # dup = 1 - 2/5; 'go stop' x2 of 4
            (4, "solo"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_metrics(df).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].dup_token_frac == 0.75 and out[1].top_bigram_frac == 1.0
    assert out[2].dup_token_frac == 0.0 and out[2].top_bigram_frac == round(1 / 3, 9)
    assert out[3].dup_token_frac == 0.6 and out[3].top_bigram_frac == 0.5


# --- X28 incremental admission (operators/dedup.py incremental_admit) ----


def test_incremental_admit_stages(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import incremental_admit

    corpus = spark.createDataFrame(
        [
            (100, "alpha beta gamma delta epsilon zeta eta theta"),
            (101, "one two three four five six seven eight nine ten"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            # exact duplicate of corpus doc 100 (anti-joined away)
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            # same after whitespace/case normalization (fingerprint collision)
            (2, "  ALPHA   beta gamma delta epsilon zeta eta theta "),
            # within-batch dup pair: min-id 3 survives, 4 dropped
            (3, "fresh words nobody has ever written before today"),
            (4, "fresh words nobody has ever written before today"),
            # near-dup of corpus doc 101: high trigram overlap -> rejected
            (5, "one two three four five six seven eight nine eleven"),
            # genuinely new -> admitted
            (6, "completely novel content with zero shared trigrams here"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in incremental_admit(batch, corpus, max_overlap=0.5).collect()}
    # stages 1-2: docs 1, 2 (corpus dups) and 4 (batch dup) are gone
    assert set(out) == {3, 5, 6}
    assert out[5]["admitted"] is False and out[5]["overlap_frac"] > 0.5
    assert out[3]["admitted"] is True and out[3]["n_hits"] == 0
    assert out[6]["admitted"] is True and out[6]["n_hits"] == 0


def test_incremental_admit_empty_batch(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import incremental_admit

    corpus = spark.createDataFrame(
        [(1, "some corpus text here with several words")], "doc_id long, text string"
    )
    batch = corpus.limit(0)
    assert incremental_admit(batch, corpus).count() == 0


def test_incremental_admit_empty_corpus(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import incremental_admit

    empty = spark.createDataFrame([], "doc_id long, text string")
    short = spark.createDataFrame([(1, "one")], "doc_id long, text string")
    # empty existing corpus: the whole batch is fresh and admitted
    out = incremental_admit(short, empty).collect()
    assert len(out) == 1 and out[0]["admitted"] is True


def test_repeated_span_stats_and_removal(spark):
    """x40: cross-doc duplicated token windows are found with exact
    interval-union coverage, and the removal half cuts exactly the
    covered tokens (stats and cutter agree token-for-token)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import (
        remove_repeated_spans,
        repeated_span_stats,
    )

    shared = "the quick brown fox jumps over the lazy dog today"  # 10 tokens
    docs = [
        (1, "alpha beta " + shared + " gamma delta"),     # 14 tokens
        (2, shared + " epsilon zeta eta theta iota"),     # 15 tokens
        (3, "totally unique words that appear nowhere else at all ok"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    stats = {r.doc_id: r for r in repeated_span_stats(df, window=8).collect()}
    # doc 3 shares nothing
    assert set(stats) == {1, 2}
    # the shared run is 10 tokens -> 3 overlapping windows, union = 10
    assert stats[1].n_dup_spans == 3 and stats[1].dup_tokens == 10
    assert stats[2].n_dup_spans == 3 and stats[2].dup_tokens == 10
    assert stats[1].n_tokens == 14 and stats[2].n_tokens == 15
    # removal cuts exactly the covered tokens
    cut = {r.doc_id: r for r in remove_repeated_spans(df, window=8).collect()}
    assert cut[1].text == "alpha beta gamma delta"
    assert cut[2].text == "epsilon zeta eta theta iota"
    assert cut[3].n_tokens_after == cut[3].n_tokens_before
    for d in (1, 2):
        assert cut[d].n_tokens_before - cut[d].n_tokens_after == stats[d].dup_tokens


def test_repeated_spans_ignore_within_doc_repetition(spark):
    """A span repeated INSIDE one document is x14's territory, not x40's:
    single-doc repetition must not mark anything."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import (
        repeated_span_stats,
    )

    run = "one two three four five six seven eight"
    df = spark.createDataFrame(
        [(1, run + " filler " + run), (2, "nothing shared here at all in any way truly")],
        "doc_id long, text string",
    )
    assert repeated_span_stats(df, window=8).collect() == []


def test_knn_join_arrow_matches_sql_and_bruteforce(spark, sf0001):
    """x81: the arrow/BLAS flavor must produce the same ranked neighbor
    lists as the oracle-hashed sql flavor; both must match a brute-force
    per-query ranking computed in Python; self-match ranks first."""
    from dbms_data_anonymity_differential_privacy_spark.operators.similarity import knn_join

    emb = load_table(spark, sf0001, "embeddings")
    q = emb.filter(F.col("vec_id") % 20 == 0)
    sql_rows = {
        (r.id_q, r.rnk): r.id_c for r in knn_join(emb, q, k=4, impl="sql").collect()
    }
    arrow_rows = {
        (r.id_q, r.rnk): r.id_c for r in knn_join(emb, q, k=4, impl="arrow").collect()
    }
    assert sql_rows == arrow_rows and len(sql_rows) > 0

    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in emb.collect()}

    def cos(a, b):
        import math

        da = math.sqrt(sum(x * x for x in a))
        db = math.sqrt(sum(x * x for x in b))
        if da * db == 0:
            return None
        return round(sum(x * y for x, y in zip(a, b)) / (da * db), 6)

    for qid in [i for i in vecs if i % 20 == 0]:
        scored = sorted(
            ((c, cid) for cid, v in vecs.items() for c in [cos(vecs[qid], v)]),
            key=lambda t: (-(t[0] if t[0] is not None else float("-inf")), t[1]),
        )
        assert sql_rows[(qid, 1)] == qid  # self-match first (cos 1.0)
        for rnk, (c, cid) in enumerate(scored[:4], start=1):
            assert sql_rows[(qid, rnk)] == cid


def test_dedup_corpus_best_keeps_highest_score(spark):
    """x82 policy='best': the survivor of a transitive near-dup chain is
    the highest-scoring member (ties by min id), not the min id — and
    docs outside any pair are untouched."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import dedup_corpus

    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 50), (7, 5), (8, 5), (9, 1)],
        "doc_id long, score long",
    )
    # chain 1~2, 2~3 (one component); 7~8 tie on score
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
    )
    kept = sorted(
        r.doc_id
        for r in dedup_corpus(docs, pairs, policy="best", score_col="score").collect()
    )
    # comp {1,2,3}: 2 wins (score 99); comp {7,8}: tie -> min id 7; 9 untouched
    assert kept == [2, 7, 9]

    import pytest

    with pytest.raises(ValueError, match="score_col"):
        dedup_corpus(docs, pairs, policy="best")


def test_streaming_rolling_anomaly_matches_batch_closed_buckets(spark, sf0001, tmp_path):
    """x93: the stateful streaming rolling-anomaly (applyInPandasWithState,
    O(window) state per key) must equal the x87 batch twin on every CLOSED
    bucket — the newest bucket per key is provisional by streaming
    semantics and unemitted until a later bucket closes it."""
    import shutil

    from dbms_data_anonymity_differential_privacy_spark.operators.stats import rolling_anomaly
    from dbms_data_anonymity_differential_privacy_spark.streaming.anomaly import (
        rolling_anomaly_stream,
    )

    ev = load_table(spark, sf0001, "events")
    batch_all = rolling_anomaly(ev, ["event_type"], bucket="1 hour", window=6).collect()
    last_per_group = {}
    for r in batch_all:
        cur = last_per_group.get(r.event_type)
        if cur is None or r.bucket_start > cur:
            last_per_group[r.event_type] = r.bucket_start
    # the batch scores each group's final bucket; the stream cannot close it
    batch = {
        (r.event_type, r.bucket_start): (r.n, r.mean_r, r.z_r, r.is_anomaly)
        for r in batch_all
        if r.bucket_start != last_per_group[r.event_type]
    }

    stream_dir = tmp_path / "events"
    stream_dir.mkdir()
    shutil.copy(f"{sf0001}/events.parquet", stream_dir / "part-000.parquet")
    q = (
        rolling_anomaly_stream(spark, str(stream_dir), bucket_secs=3600, window=6)
        .writeStream.format("memory")
        .queryName("x93_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt93"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.event_type, r.bucket_start): (r.n, r.mean_r, r.z_r, r.is_anomaly)
        for r in spark.sql("SELECT * FROM x93_test").collect()
    }
    assert set(got) == set(batch)
    for k, (n, m, z, a) in batch.items():
        gn, gm, gz, ga = got[k]
        assert gn == n and abs(gm - m) < 1e-9
        if z is None:
            assert gz is None
        else:
            assert abs(gz - z) < 1e-9 and ga == a
    assert len(batch) > 50


def test_tfidf_topk_crafted_scores_and_ties(spark):
    """X99: hand-computed tf·ln((N+1)/(df+1)) on a 3-doc corpus, rounding
    ties broken by term text, rank capped at k."""
    import math

    from dbms_data_anonymity_differential_privacy_spark.operators.text import tfidf_topk

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "apple cherry"),
            (3, "banana cherry cherry date"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_topk(docs, k=2)
    rows = {(r.doc_id, r.term): r for r in out.collect()}
    n = 3
    idf = lambda df_: math.log((n + 1.0) / (df_ + 1.0))
    # doc 1: apple tf=2 df=2, banana tf=1 df=2 — apple wins, banana second
    assert rows[(1, "apple")].rnk == 1
    assert rows[(1, "apple")].tfidf_r == round(2 * idf(2), 6)
    assert rows[(1, "banana")].rnk == 2
    # doc 2: apple and cherry both tf=1 df=2 — tie broken by term asc
    assert rows[(2, "apple")].rnk == 1 and rows[(2, "cherry")].rnk == 2
    # doc 3: date (tf=1, df=1 -> ln 2 = 0.693) outranks cherry
    # (tf=2, df=2 -> 2·ln(4/3) = 0.575) — rarity beats raw frequency
    assert rows[(3, "date")].rnk == 1
    assert rows[(3, "date")].tfidf_r == round(idf(1), 6)
    assert rows[(3, "cherry")].rnk == 2
    assert len([k for k in rows if k[0] == 3]) == 2


def test_tfidf_topk_plan_map_side_window_limit(spark, sf001):
    """The per-doc top-k must compile to a WindowGroupLimit Partial below
    the window exchange (x66 convention) — not a full per-doc sort."""
    import re

    from dbms_data_anonymity_differential_privacy_spark.operators.text import tfidf_topk
    from dbms_data_anonymity_differential_privacy_spark.sources.readers import load_table

    docs = load_table(spark, sf001, "documents")
    p = tfidf_topk(docs, k=5)._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"WindowGroupLimit.*Partial", p)
    assert "CartesianProduct" not in p


def test_ngram_novelty_crafted(spark):
    """X112: a doc sharing every 3-gram with a twin scores 0; a fully
    unique doc scores 1; short docs release (0, 0, 0.0)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import ngram_novelty

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "the quick brown fox jumps"),   # exact twin of 1
            (3, "completely different unique words here"),
            (4, "too short"),                    # < 3 tokens
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in ngram_novelty(docs, n=3).collect()}
    assert out[1].n_ngrams == 3 and out[1].novelty_r == 0.0
    assert out[2].novelty_r == 0.0
    assert out[3].n_ngrams == 3 and out[3].n_unique == 3 and out[3].novelty_r == 1.0
    assert out[4].n_ngrams == 0 and out[4].novelty_r == 0.0


def test_source_overlap_matrix_crafted(spark):
    """X113: hand-computed shared counts and Jaccard; duplicate docs in
    one source don't double-count shingles; disjoint sources absent."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import source_overlap_matrix

    docs = spark.createDataFrame(
        [
            (1, "a b c d", "s1"),       # shingles: abc, bcd
            (2, "a b c d", "s1"),       # duplicate content, same source
            (3, "b c d e", "s2"),       # shingles: bcd, cde -> shares bcd
            (4, "x y z w", "s3"),       # disjoint
        ],
        "doc_id long, text string, source string",
    )
    out = {(r.source_a, r.source_b): r for r in
           source_overlap_matrix(docs, "source", n=3).collect()}
    assert set(out) == {("s1", "s2")}
    r = out[("s1", "s2")]
    assert r.shared == 1 and r.n_a == 2 and r.n_b == 2
    assert r.jaccard_r == round(1 / 3, 9)


def test_dp_histogram_2d_semantics(spark):
    """X114: dense public grid (zeros included), mass conservation on the
    exact core, clipping at the public bounds, eps->inf recovery,
    determinism of the noisy release."""
    from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_histogram_2d

    rows = [(5.0, 1.0), (5.0, 1.0), (95.0, 3.0), (-50.0, 9.0)]  # -50 clips into bin 0
    df = spark.createDataFrame(rows, "x double, y double")
    out = dp_histogram_2d(
        df, "x", "y", 10, 4, epsilon=1.0, x_bounds=(0.0, 100.0), y_bounds=(0.0, 4.0),
        release="t114",
    )
    cells = {(r.bin_x, r.bin_y): r for r in out.collect()}
    assert len(cells) == 40  # full public grid, zeros included
    assert cells[(0, 1)].count_exact == 2
    assert cells[(9, 3)].count_exact == 1
    assert cells[(0, 3)].count_exact == 1  # clipped row
    assert sum(r.count_exact for r in cells.values()) == 4
    # eps -> inf: noise vanishes
    big = dp_histogram_2d(
        df, "x", "y", 10, 4, epsilon=1e9, x_bounds=(0.0, 100.0), y_bounds=(0.0, 4.0),
        release="t114-big",
    ).collect()
    assert all(abs(r.count_dp - r.count_exact) < 1e-3 for r in big)
    # replay-stable noise
    a = sorted(out.collect(), key=lambda r: (r.bin_x, r.bin_y))
    b = sorted(
        dp_histogram_2d(
            df, "x", "y", 10, 4, epsilon=1.0, x_bounds=(0.0, 100.0), y_bounds=(0.0, 4.0),
            release="t114",
        ).collect(),
        key=lambda r: (r.bin_x, r.bin_y),
    )
    assert [r.count_dp for r in a] == [r.count_dp for r in b]


def test_dp_histogram_2d_validation(spark):
    import pytest

    from dbms_data_anonymity_differential_privacy_spark.operators.dp import dp_histogram_2d

    df = spark.createDataFrame([(1.0, 1.0)], "x double, y double")
    with pytest.raises(ValueError):
        dp_histogram_2d(df, "x", "y", 10, 4, epsilon=0.0, x_bounds=(0, 1), y_bounds=(0, 1), release="t")
    with pytest.raises(ValueError):
        dp_histogram_2d(df, "x", "y", 0, 4, epsilon=1.0, x_bounds=(0, 1), y_bounds=(0, 1), release="t")
    with pytest.raises(ValueError):
        dp_histogram_2d(df, "x", "y", 10, 4, epsilon=1.0, x_bounds=(1, 1), y_bounds=(0, 1), release="t")


def test_weighted_median_crafted(spark):
    """X115: hand-checked lower weighted median, incl. an exact-half
    boundary and weight-dominant small value."""
    from dbms_data_anonymity_differential_privacy_spark.operators.metrics import weighted_median

    rows = [
        ("g1", 1.0, 1), ("g1", 2.0, 1), ("g1", 3.0, 98),  # heavy tail value wins
        ("g2", 10.0, 2), ("g2", 20.0, 2),                  # 2cw==W at v=10 -> lower median 10
    ]
    df = spark.createDataFrame(rows, "g string, v double, w long")
    out = {r.g: r for r in weighted_median(df, ["g"], "v", "w").collect()}
    assert out["g1"].weighted_median == 3.0 and out["g1"].w_total == 100
    assert out["g2"].weighted_median == 10.0


def test_oov_rate_crafted(spark):
    """X117: vocab is the top-k by (freq desc, token asc); OOV counted
    per occurrence; empty docs release (0, 0, 0.0)."""
    from dbms_data_anonymity_differential_privacy_spark.operators.text import oov_rate

    docs = spark.createDataFrame(
        [
            (1, "aa aa aa bb"),    # aa:3 bb:1
            (2, "aa bb cc cc"),    # cc:2
            (3, ""),
        ],
        "doc_id long, text string",
    )
    # corpus freqs: aa:4, cc:2, bb:2 -> top-2 = {aa, bb} (tie bb<cc by token)
    out = {r.doc_id: r for r in oov_rate(docs, vocab_size=2).collect()}
    assert out[1].n_tokens == 4 and out[1].n_oov == 0
    assert out[2].n_tokens == 4 and out[2].n_oov == 2
    assert out[2].oov_rate_r == 0.5
    assert out[3].n_tokens == 0 and out[3].oov_rate_r == 0.0


def test_contamination_check_counts(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.dedup import contamination_check

    corpus = spark.createDataFrame(
        [
            (1, "a b c d e"),        # trigrams: abc bcd cde
            (2, "x y z w"),          # trigrams: xyz yzw — disjoint from bench
            (3, "a"),                # too short: zero trigrams
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "a b c d q")],  # trigrams: abc bcd cdq
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in contamination_check(corpus, bench, n=3).collect()}
    assert rows[1].n_ngrams == 3 and rows[1].n_hits == 2
    assert abs(rows[1].contaminated_frac - 2 / 3) < 1e-9
    assert rows[2].n_hits == 0 and rows[2].contaminated_frac == 0.0
    assert rows[3].n_ngrams == 0 and rows[3].contaminated_frac == 0.0


def test_vocab_stats_order_and_df(spark):
    from dbms_data_anonymity_differential_privacy_spark.operators.text import vocab_stats

    docs = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "  ")],
        "doc_id long, text string",
    )
    rows = vocab_stats(docs, top_k=10).collect()
    assert [(r.token, r.term_freq, r.doc_freq) for r in rows] == [
        ("apple", 2, 1),
        ("banana", 2, 2),
        ("cherry", 1, 1),
    ]
