"""Streaming throughput + state-store telemetry (r7 verdict task 4).

Replays two streaming contract queries over a multi-file event stream
(default: the 10x-inflated synthetic sf1 data from
tools/inflate_sf.py) with ``maxFilesPerTrigger=1`` so availableNow runs
a real multi-micro-batch replay, then reports per-query:

- input rows and wall seconds -> rows/s throughput,
- peak state rows and peak state memory from the progress telemetry
  (``stateOperators[].numRowsTotal`` / ``memoryUsedBytes``),
- the number of micro-batches.

Usage: python tools/stream_bench.py [sf_dir] [n_files]

Prints one JSON line per stream and a closing summary line; paste the
table into SCALE.md. The watermark-bounded state ASSERTIONS live in
tests/test_stream_state.py — this tool is the measurement half.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from dbms_data_anonymity_differential_privacy_spark import get_spark  # noqa: E402


def split_parquet(spark, src: str, out_dir: str, n_files: int) -> None:
    df = spark.read.parquet(src)
    df.repartition(n_files).write.mode("overwrite").parquet(out_dir)
    # drop the _SUCCESS marker noise; the file source ignores it anyway
    for f in os.listdir(out_dir):
        if f.startswith("_"):
            os.remove(os.path.join(out_dir, f))


def run_stream(name: str, out_df, output_mode: str, ckpt: str) -> dict:
    t0 = time.time()
    q = (
        out_df.writeStream.format("noop")
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()
    wall = time.time() - t0
    rows = 0
    peak_state_rows = 0
    peak_state_bytes = 0
    n_batches = 0
    for p in q.recentProgress:
        n_batches += 1
        rows += int(p["numInputRows"])
        for so in p.get("stateOperators", []):
            peak_state_rows = max(peak_state_rows, int(so.get("numRowsTotal", 0)))
            peak_state_bytes = max(peak_state_bytes, int(so.get("memoryUsedBytes", 0)))
    rec = {
        "stream": name,
        "input_rows": rows,
        "wall_sec": round(wall, 2),
        "rows_per_sec": round(rows / wall, 1) if wall > 0 else None,
        "n_microbatches": n_batches,
        "peak_state_rows": peak_state_rows,
        "peak_state_mb": round(peak_state_bytes / 1e6, 2),
    }
    print(json.dumps(rec))
    return rec


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.bench_data/sf1.0"
    n_files = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    spark = get_spark(app_name="stream-bench")
    spark.sparkContext.setLogLevel("ERROR")

    from dbms_data_anonymity_differential_privacy_spark.streaming.anonymize import (
        events_readstream,
    )
    from dbms_data_anonymity_differential_privacy_spark.streaming.audience import (
        windowed_distinct_users_stream,
    )
    from dbms_data_anonymity_differential_privacy_spark.streaming.drift import (
        drift_windows_stream,
        reference_counts,
    )

    work = tempfile.mkdtemp(prefix="stream-bench-")
    ev_dir = os.path.join(work, "events")
    split_parquet(spark, f"{sf_dir}/events.parquet", ev_dir, n_files)
    results = []

    # x211 — exact windowed distinct users (two chained stateful ops)
    ev_stream = events_readstream(spark, ev_dir, max_files_per_trigger=1)
    keyed = ev_stream.withWatermark("ts", "2 days").withColumn(
        "__wstart", F.window("ts", "1 day").getField("start")
    )
    deduped = keyed.dropDuplicatesWithinWatermark(["__wstart", "user_id"])
    x211 = (
        deduped.groupBy(F.window("ts", "1 day").alias("__w"))
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(F.col("__w.start").alias("window_start"), "n_users")
    )
    results.append(run_stream("x211_distinct_users", x211, "append", os.path.join(work, "c1")))

    # x186 — windowed PSI drift vs a fixed reference (one stateful agg)
    ref = reference_counts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    # drift_windows_stream builds its own reader; rebuild inline with the
    # per-file trigger for the multi-batch replay
    from dbms_data_anonymity_differential_privacy_spark.streaming.drift import (
        _psi_projection,
        _windowed_type_counts,
    )

    ev_stream2 = events_readstream(spark, ev_dir, max_files_per_trigger=1)
    types = sorted(ref)
    x186 = _psi_projection(
        _windowed_type_counts(
            ev_stream2.withWatermark("ts", "2 days"), types, "1 day", "event_type", "ts"
        ),
        ref,
        types,
    )
    results.append(run_stream("x186_stream_drift", x186, "append", os.path.join(work, "c2")))

    print(json.dumps({"sf_dir": sf_dir, "n_files": n_files, "streams": results}))
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
