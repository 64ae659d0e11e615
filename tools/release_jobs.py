"""Spark jobs per phase of the three paper releases on a seeded census.

Each release runs as perfbench's ``anon_release`` runs it: the pipeline
call (build), ``write_release`` of the anonymized relation (write) and a
collect of the metrics row (collect). Every phase runs under a job group of
its own, and the jobs are counted with ``statusTracker().getJobIdsForGroup``.
The parquet schema read of the census is outside the three phases, and
nothing stays cached from one release to the next.

Usage:
  python tools/release_jobs.py [--seed 7] [--rows 50000] [--partitions 8]

Prints one line per release, e.g.:
  t-closeness  build=4  write=2  collect=0  total=6
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.workloads import K, AnonRelease  # noqa: E402

from dbms_data_anonymity_differential_privacy_spark import get_spark, pipelines  # noqa: E402
from dbms_data_anonymity_differential_privacy_spark.operators.util import (  # noqa: E402
    release_cached_relations,
)
from dbms_data_anonymity_differential_privacy_spark.sources.writers import (  # noqa: E402
    write_release,
)

PHASES = ("build", "write", "collect")


def _releases(df):
    """The three releases with perfbench's parameters, by name."""
    return {
        "naive": lambda: pipelines.naive_suppression_pipeline(df, AnonRelease.NAIVE_QI, K),
        "t-closeness": lambda: pipelines.t_closeness_pipeline(
            df, AnonRelease.TCLOSE_QI, "income", K, 0.2, {"age": 10}
        ),
        "clustering": lambda: pipelines.clustering_pipeline(
            df, AnonRelease.CLUSTER_QI, AnonRelease.N_CLUSTERS, K
        ),
    }


def count_jobs(spark, census: str, out_dir: str, tag: str) -> dict[str, dict[str, int]]:
    """Jobs per phase of each release of ``census``; groups are named
    after ``tag`` so repeated calls never share a group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    result = {}
    for name, build in _releases(spark.read.parquet(census)).items():
        out: dict = {}
        target = os.path.join(out_dir, f"{tag}-{name}")
        steps = {
            "build": lambda: out.update(build()),
            "write": lambda: write_release(out["anonymized"], target),
            "collect": lambda: out["metrics"].collect(),
        }
        jobs = {}
        for phase in PHASES:
            group = f"release-jobs-{tag}-{name}-{phase}"
            sc.setJobGroup(group, group)
            try:
                steps[phase]()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            jobs[phase] = len(tracker.getJobIdsForGroup(group))
        result[name] = jobs
        # as perfbench does between operations: nothing stays cached
        release_cached_relations()
        spark.catalog.clearCache()
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--rows", type=int, default=50_000)
    ap.add_argument("--partitions", type=int, default=8, help="spark.sql.shuffle.partitions")
    args = ap.parse_args()

    spark = get_spark(app_name="release_jobs", shuffle_partitions=args.partitions)
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory() as work:
        census = os.path.join(work, "census")
        gen.write_census(args.seed, args.rows, census)
        count_jobs(spark, census, work, "warm")  # JIT, codegen and file listings
        for name, jobs in count_jobs(spark, census, work, "run").items():
            cells = "  ".join(f"{p}={jobs[p]}" for p in PHASES)
            print(f"{name:<12} {cells}  total={sum(jobs.values())}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
