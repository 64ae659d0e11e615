"""P1 CSV scan semantics: explicit schema, '?' → NULL, space stripping
(reference naive-suppresion.py:13-17)."""

from __future__ import annotations

from pyspark.sql import types as T

from dbms_data_anonymity_differential_privacy_spark import read_adult_csv


def test_adult_csv_shape(spark, tmp_path):
    csv = tmp_path / "adult.csv"
    csv.write_text(
        "39, State-gov, 77516, Bachelors, 13, Never-married, Adm-clerical, "
        "Not-in-family, White, Male, 2174, 0, 40, United-States, <=50K\n"
        "50, ?, 83311, Bachelors, 13, Married, Exec-managerial, Husband, "
        "White, Male, 0, 0, 13, ?, >50K\n"
    )
    df = read_adult_csv(spark, str(csv))
    rows = df.collect()
    assert len(rows) == 2
    # leading spaces stripped, ints parsed with declared types
    assert rows[0]["workclass"] == "State-gov"
    assert rows[0]["age"] == 39
    assert df.schema["age"].dataType == T.LongType()
    # '?' sentinel became NULL
    assert rows[1]["workclass"] is None
    assert rows[1]["native-country"] is None
    # drop-null (P2) removes the second row
    assert df.na.drop("any").count() == 1


def test_events_ts_converted(spark, sf0001):
    from dbms_data_anonymity_differential_privacy_spark import load_table

    ev = load_table(spark, sf0001, "events")
    # nanos-as-long files convert to timestamp (ltz); native files arrive
    # as the file's own timestamp_ntz — both are event-time-usable.
    assert dict(ev.dtypes)["ts"] in ("timestamp", "timestamp_ntz")


def test_write_release_roundtrip(spark, sf0001, tmp_path):
    from dbms_data_anonymity_differential_privacy_spark.sources.writers import write_release
    from dbms_data_anonymity_differential_privacy_spark import load_table

    c = load_table(spark, sf0001, "customer")
    out = str(tmp_path / "release")
    write_release(c, out)
    back = spark.read.parquet(out)
    assert back.count() == c.count()
    assert sorted(back.columns) == sorted(c.columns)
    # coalesced: small release → a single data file
    import glob

    assert len(glob.glob(f"{out}/part-*.parquet")) == 1


def test_write_release_runs_one_action(spark, sf0001, tmp_path):
    """write_release runs the same Spark jobs as a plain coalesced parquet
    write of the same plan: its file-count estimate adds no action. The
    plan shuffles (a class count semi-joined back) and persists nothing,
    so any extra action on it would re-run its stages."""
    import glob

    from pyspark.sql import functions as F

    from dbms_data_anonymity_differential_privacy_spark.sources.writers import write_release
    from dbms_data_anonymity_differential_privacy_spark import load_table

    c = load_table(spark, sf0001, "customer")
    big = c.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n")).filter("n >= 5")
    rel = c.join(big.select("c_nationkey"), on="c_nationkey", how="left_semi")
    sc = spark.sparkContext

    def jobs(name, write) -> int:
        sc.setJobGroup(name, name)
        try:
            write()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(name))

    release, plain = str(tmp_path / "release"), str(tmp_path / "plain")
    n_release = jobs("write-release-one-action", lambda: write_release(rel, release))
    n_plain = jobs("plain-coalesced-write", lambda: rel.coalesce(1).write.parquet(plain))
    assert n_release == n_plain, (n_release, n_plain)
    assert len(glob.glob(f"{release}/part-*.parquet")) == 1
    assert spark.read.parquet(release).count() == spark.read.parquet(plain).count()


def test_write_release_partitioned(spark, sf0001, tmp_path):
    from dbms_data_anonymity_differential_privacy_spark.sources.writers import write_release
    from dbms_data_anonymity_differential_privacy_spark import load_table

    c = load_table(spark, sf0001, "customer")
    out = str(tmp_path / "byseg")
    write_release(c, out, partition_by=["c_mktsegment"])
    import glob

    segs = glob.glob(f"{out}/c_mktsegment=*")
    assert len(segs) == c.select("c_mktsegment").distinct().count()
    # partition pruning: reading one segment touches one directory
    one = spark.read.parquet(out).filter("c_mktsegment = 'AUTOMOBILE'")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_write_adult_csv_roundtrip(spark, tmp_path):
    from dbms_data_anonymity_differential_privacy_spark.sources.readers import read_adult_csv
    from dbms_data_anonymity_differential_privacy_spark.sources.writers import write_adult_csv

    pdf = spark.createDataFrame(
        [(39, "State-gov", None)], "age long, workclass string, occupation string"
    )
    out = str(tmp_path / "adult_out")
    write_adult_csv(pdf, out)
    import glob

    content = "".join(open(f).read() for f in glob.glob(f"{out}/*.csv"))
    assert "?" in content  # null sentinel written


def test_documents_jsonl_roundtrip(spark, sf0001, tmp_path):
    """write → read JSONL preserves the corpus exactly (schema declared,
    not inferred)."""
    from dbms_data_anonymity_differential_privacy_spark import load_table
    from dbms_data_anonymity_differential_privacy_spark.sources.readers import (
        read_documents_jsonl,
        write_documents_jsonl,
    )

    docs = load_table(spark, sf0001, "documents")
    path = str(tmp_path / "docs_jsonl")
    write_documents_jsonl(docs.select("doc_id", "text", "lang", "source", "n_chars"), path)
    back = read_documents_jsonl(spark, path)
    assert back.schema["doc_id"].dataType.typeName() == "long"
    a = {r.doc_id: (r.text, r.lang, r.source, r.n_chars) for r in docs.collect()}
    b = {r.doc_id: (r.text, r.lang, r.source, r.n_chars) for r in back.collect()}
    assert a == b


def test_documents_jsonl_corrupt_lines_dropped_not_poisoning(spark, tmp_path):
    """One mangled line must not fail the read or corrupt neighbors:
    PERMISSIVE mode quarantines it; drop_corrupt filters it; the good
    lines survive with exact values."""
    from dbms_data_anonymity_differential_privacy_spark.sources.readers import (
        read_documents_jsonl,
    )

    p = tmp_path / "dirty"
    p.mkdir()
    (p / "part-0.json").write_text(
        '{"doc_id": 1, "text": "good one", "lang": "en", "source": "s", "n_chars": 8}\n'
        "{this is not json at all\n"
        '{"doc_id": 2, "text": "also fine", "lang": "fr", "source": "s", "n_chars": 9}\n'
    )
    kept = read_documents_jsonl(spark, str(p))
    rows = {r.doc_id: r.text for r in kept.collect()}
    assert rows == {1: "good one", 2: "also fine"}
    quarantine = read_documents_jsonl(spark, str(p), drop_corrupt=False)
    bad = quarantine.filter("_corrupt_record IS NOT NULL").collect()
    assert len(bad) == 1 and bad[0]._corrupt_record.startswith("{this")


def test_write_bucketed_no_shuffle_on_group(spark, sf0001, tmp_path):
    """A relation bucketed by the QI key aggregates on that key without an
    exchange — the 100 TB payoff of bucketing."""
    from dbms_data_anonymity_differential_privacy_spark.sources.writers import write_bucketed
    from dbms_data_anonymity_differential_privacy_spark import load_table
    from pyspark.sql import functions as F

    spark.sql("DROP TABLE IF EXISTS bucketed_customer")
    c = load_table(spark, sf0001, "customer")
    write_bucketed(
        c, "bucketed_customer", ["c_nationkey", "c_mktsegment"], n_buckets=4,
        mode="overwrite",
    )
    back = spark.table("bucketed_customer")
    assert back.count() == c.count()
    agg = back.groupBy("c_nationkey", "c_mktsegment").agg(F.count(F.lit(1)).alias("n"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    spark.sql("DROP TABLE IF EXISTS bucketed_customer")


def test_cli_naive_pipeline(tmp_path, capsys):
    """The module CLI mirrors the reference's runnable-script UX."""
    import json

    from dbms_data_anonymity_differential_privacy_spark.__main__ import main

    out_dir = str(tmp_path / "cli_release")
    rc = main(
        [
            "naive",
            "--input", "/root/testdata/sf0.001/customer.parquet",
            "--qi", "c_mktsegment,c_nationkey",
            "--k", "5",
            "--output", out_dir,
        ]
    )
    assert rc == 0
    line = capsys.readouterr().out.strip().splitlines()[-1]
    metrics = json.loads(line)
    assert metrics["k_satisfied"] is True
    import glob

    assert glob.glob(f"{out_dir}/part-*.parquet")
