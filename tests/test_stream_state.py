"""Watermark-bounded state assertions for the streaming contract ops
(r7 verdict task 4 — the correctness half; tools/stream_bench.py is the
throughput/state measurement half, numbers in SCALE.md).

The claims under test, from the operators' own docstrings:

- x211 (`streaming/audience.py`): dedup state is one entry per ACTIVE
  (window, user) — bounded by the audience inside the lateness horizon,
  never by stream length — and the watermark actually EVICTS: after a
  time-ordered multi-batch replay spanning ~30 days with a 1-day
  watermark, the final dedup state must hold strictly fewer rows than
  the all-time distinct (window, user) count.

State telemetry comes from the progress reports
(``stateOperators[].numRowsTotal``), the same numbers a production
monitor alarms on.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from dbms_data_anonymity_differential_privacy_spark.sources.readers import load_table

SF001 = "/root/testdata/sf0.01"


def _progress_state_rows(q) -> list[list[int]]:
    """Per micro-batch: numRowsTotal per state operator."""
    return [
        [int(so.get("numRowsTotal", 0)) for so in p.get("stateOperators", [])]
        for p in q.recentProgress
        if p.get("stateOperators")
    ]


def _run_available_now(out_df, mode: str, ckpt: str):
    q = (
        out_df.writeStream.format("noop")
        .outputMode(mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination(300)
    return q


def _write_time_slices(df, ts_col, out_dir, n_slices: int) -> None:
    """Sequential single-file writes of time-range slices: the file
    source orders batches by file modification time, so the replay sees
    event time advance monotonically across micro-batches — the setup
    under which watermark eviction is deterministic."""
    import datetime as dt

    bounds = df.agg(
        F.min(ts_col).alias("lo"), F.max(ts_col).alias("hi")
    ).first()
    lo, hi = bounds["lo"], bounds["hi"]
    span = (hi - lo) / n_slices
    for i in range(n_slices):
        a = lo + i * span
        b = hi + dt.timedelta(seconds=1) if i == n_slices - 1 else lo + (i + 1) * span
        df.filter((F.col(ts_col) >= F.lit(a)) & (F.col(ts_col) < F.lit(b))).coalesce(
            1
        ).write.mode("append").parquet(out_dir)
        time.sleep(1.05)  # distinct mtimes -> deterministic file order


def test_x211_state_bounded_and_watermark_evicts(spark, tmp_path):
    from dbms_data_anonymity_differential_privacy_spark.streaming.anonymize import (
        events_readstream,
    )

    ev = load_table(spark, SF001, "events")
    n_pairs = (
        ev.select(
            F.window("ts", "1 day").getField("start").alias("w"), "user_id"
        )
        .distinct()
        .count()
    )
    n_windows = ev.select(F.window("ts", "1 day").getField("start")).distinct().count()

    stream_dir = str(tmp_path / "ev")
    _write_time_slices(ev, "ts", stream_dir, n_slices=4)
    src = events_readstream(spark, stream_dir, max_files_per_trigger=1)
    keyed = src.withWatermark("ts", "1 day").withColumn(
        "__wstart", F.window("ts", "1 day").getField("start")
    )
    deduped = keyed.dropDuplicatesWithinWatermark(["__wstart", "user_id"])
    out = (
        deduped.groupBy(F.window("ts", "1 day").alias("__w"))
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(F.col("__w.start").alias("window_start"), "n_users")
    )
    q = _run_available_now(out, "append", str(tmp_path / "ckpt"))
    state = _progress_state_rows(q)
    assert len(state) >= 4, "expected a multi-micro-batch replay"
    # state never exceeds the all-time key counts (the audience bound)
    for per_op in state:
        assert max(per_op) <= n_pairs
        assert min(per_op) <= n_windows * 2  # agg operator: active windows
    # the watermark EVICTS: after the last batch, the dedup operator
    # holds strictly less than the all-time (window, user) audience —
    # 30 days of slices cannot all sit inside a 1-day horizon
    final_max = max(state[-1])
    assert final_max < n_pairs, (
        f"no eviction: final state {final_max} == all-time pairs {n_pairs}"
    )


def test_x211_checkpoint_restart_is_exactly_once(spark, tmp_path):
    """Kill the stream after the first half of the timeline, then start a
    NEW query object from the SAME checkpoint: the dedup + window state
    must restore (no reprocessing — the restarted query reads only the
    new file), every window must be emitted exactly once across the two
    lives, and the union of emissions must equal the batch answer."""
    from dbms_data_anonymity_differential_privacy_spark.streaming.anonymize import (
        events_readstream,
    )
    from dbms_data_anonymity_differential_privacy_spark.streaming.audience import (
        windowed_distinct_users_batch,
    )

    ev = load_table(spark, SF001, "events")
    batch = {
        r["window_start"]: r["n_users"]
        for r in windowed_distinct_users_batch(ev, window="1 day").collect()
    }
    mid = ev.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).first()
    import datetime as dt

    cut = mid["lo"] + (mid["hi"] - mid["lo"]) / 2
    stream_dir = str(tmp_path / "ev")
    ckpt = str(tmp_path / "ckpt")
    ev.filter(F.col("ts") < F.lit(cut)).coalesce(1).write.mode("append").parquet(stream_dir)
    n_slice2 = ev.filter(F.col("ts") >= F.lit(cut)).count()

    def build():
        src = events_readstream(spark, stream_dir)
        keyed = src.withWatermark("ts", "1 hour").withColumn(
            "__wstart", F.window("ts", "1 day").getField("start")
        )
        deduped = keyed.dropDuplicatesWithinWatermark(["__wstart", "user_id"])
        return (
            deduped.groupBy(F.window("ts", "1 day").alias("__w"))
            .agg(F.count(F.lit(1)).alias("n_users"))
            .select(F.col("__w.start").alias("window_start"), "n_users")
        )

    # the memory sink does not support checkpoint recovery — the file
    # sink is the REAL exactly-once path (commit log in _spark_metadata)
    out_dir = str(tmp_path / "out")

    def run_life():
        q = (
            build().writeStream.format("parquet")
            .outputMode("append").trigger(availableNow=True)
            .option("path", out_dir)
            .option("checkpointLocation", ckpt).start()
        )
        q.awaitTermination(300)
        return q

    run_life()
    life1 = {
        r["window_start"]: r["n_users"]
        for r in spark.read.parquet(out_dir).collect()
    }
    assert life1, "first life emitted nothing"

    time.sleep(1.05)
    ev.filter(F.col("ts") >= F.lit(cut)).coalesce(1).write.mode("append").parquet(stream_dir)
    q2 = run_life()
    rows = spark.read.parquet(out_dir).collect()
    # exactly-once across the restart: no window row appears twice
    assert len(rows) == len({r["window_start"] for r in rows}), "duplicate window emissions"
    merged = {r["window_start"]: r["n_users"] for r in rows}
    # restart did NOT reprocess the first file: the second life read
    # only the new slice
    rows_life2 = sum(int(p["numInputRows"]) for p in q2.recentProgress)
    assert rows_life2 == n_slice2, (rows_life2, n_slice2)
    assert set(life1) <= set(merged)
    # every emitted window equals the batch answer — INCLUDING the
    # boundary window whose users span both files (state restored)
    assert merged == {k: batch[k] for k in merged}
    assert len(merged) > len(life1)  # the second life closed new windows
    assert len(merged) >= len(batch) - 2  # watermark may withhold the tail
