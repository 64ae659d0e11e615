"""The three workloads. Each drives the engine's public functions from one
thread, one closed-loop client, and exposes:

- ``prepare(spark)``: generate and register its inputs (timed as set-up),
- ``warm_up()``: untimed operations so JIT and codegen caches are warm,
- ``before()``: untimed preparation of the next operation,
- ``run(task, op)``: one timed operation; returns the input rows it processed,
- ``after(op)``: untimed housekeeping between operations,
- ``layer_numbers(op)``: per-layer counts of a traced operation,
- ``job_groups(op)``: the Spark job groups an operation's jobs run under,
- ``check()``: the operations whose output is wrong and a note per problem,
  after the timed region (any note makes the run incorrect),
- ``close()``: stop what the workload started.
"""

from __future__ import annotations

import functools
import os
import random
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timedelta

from perfbench import checks, gen

ENGINE = "dbms_data_anonymity_differential_privacy_spark"
MB = 1024.0 * 1024.0

CENSUS_ROWS = 50_000
WARM_CENSUS_ROWS = 2_000
K = 5
JOB_GROUP = "perfbench-{op}"  # Spark job group of a traced operation


def _engine():
    """Engine modules, looked up at call time so span wrappers apply."""
    import importlib

    return {
        name: importlib.import_module(f"{ENGINE}.{name}")
        for name in ("pipelines", "operators.dp", "operators.kanonymity", "operators.metrics",
                     "operators.tcloseness", "operators.util", "sources.writers",
                     "streaming.anonymize")
    }


def _side_by_side(calls) -> None:
    """Run warm-up calls in threads of their own. Most of a cold call is
    driver-side planning, code generation and JIT compilation, which one
    thread does alone; side by side the calls finish sooner."""
    with ThreadPoolExecutor(len(calls)) as pool:
        for f in [pool.submit(c) for c in calls]:
            f.result()


def _dir_stats(path: str) -> tuple[int, float]:
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    return len(files), sum(os.path.getsize(os.path.join(path, f)) for f in files) / MB


class _CensusWorkload:
    """Shared by the batch workloads: a census parquet written per set-up,
    and the engine's cached relations released between operations."""

    def __init__(self, seed: int, work: str, collect) -> None:
        self.seed, self.work, self.collect = seed, work, collect
        self.cached: dict[int, int] = {}
        self.n_prepared = 0

    def prepare(self, spark) -> None:
        self.spark = spark
        self.census = os.path.join(self.work, f"census-{self.n_prepared}")
        self.n_prepared += 1
        gen.write_census(self.seed, CENSUS_ROWS, self.census)
        self.rows = spark.read.parquet(self.census).count()

    def before(self) -> None:
        pass

    def after(self, op: int) -> None:
        self.cached[op] = _engine()["operators.util"].release_cached_relations()
        self.spark.catalog.clearCache()

    def job_groups(self, op: int) -> list[str]:
        return [JOB_GROUP.format(op=op)]

    def close(self) -> None:
        pass


class AnonRelease(_CensusWorkload):
    """One reference method per operation, round-robin; the anonymized
    relation is written with ``write_release`` and the metrics row collected."""

    name = "anon_release"
    round_size = 3
    METHODS = ("naive", "tclose", "cluster")
    NAIVE_QI = ["age", "sex", "race", "region", "marital"]
    TCLOSE_QI = ["age", "sex", "race", "education"]
    TCLOSE_BINNED_QI = ["age_bin", "sex", "race", "education"]
    CLUSTER_QI = ["age", "education", "hours", "sex", "race"]
    N_CLUSTERS = 10

    def __init__(self, seed: int, work: str, collect) -> None:
        super().__init__(seed, work, collect)
        self.releases: dict[int, tuple[str, str, dict]] = {}

    def _release(self, method: str, out_dir: str, census: str) -> dict:
        e = _engine()
        p = e["pipelines"]
        df = self.spark.read.parquet(census)
        if method == "naive":
            out = p.naive_suppression_pipeline(df, self.NAIVE_QI, K)
        elif method == "tclose":
            out = p.t_closeness_pipeline(df, self.TCLOSE_QI, "income", K, 0.2, {"age": 10})
        else:
            out = p.clustering_pipeline(df, self.CLUSTER_QI, self.N_CLUSTERS, K)
        e["sources.writers"].write_release(out["anonymized"], out_dir)
        return self.collect(out["metrics"])[0].asDict()

    def warm_up(self) -> None:
        census = os.path.join(self.work, "warm-census")
        gen.write_census(self.seed + 1, WARM_CENSUS_ROWS, census)
        _side_by_side([
            functools.partial(self._release, method, os.path.join(self.work, f"warm-{method}"), census)
            for method in self.METHODS
        ])
        self.after(-1)

    def run(self, task: int, op: int) -> int:
        method = self.METHODS[task % 3]
        out_dir = os.path.join(self.work, f"release-{op}")
        self.releases[op] = (method, out_dir, self._release(method, out_dir, self.census))
        return self.rows

    def layer_numbers(self, op: int) -> dict[str, float]:
        nums = {"operators.util.cached_relations": self.cached[op]}
        if op in self.releases:
            nums["sources.writers.files"], nums["sources.writers.output_mb"] = _dir_stats(
                self.releases[op][1])
        return nums

    def check(self) -> tuple[set[int], list[str]]:
        oracle = checks.CensusOracle(self.census)
        failed, notes = set(), []
        try:
            for op, (method, out_dir, metrics) in sorted(self.releases.items()):
                qi = {"naive": self.NAIVE_QI, "tclose": self.TCLOSE_BINNED_QI,
                      "cluster": ["cluster"]}[method]
                problems = checks.check_release(method, metrics, out_dir, oracle, qi, K,
                                                self.N_CLUSTERS)
                if problems:
                    failed.add(op)
                    notes.append(f"op {op} ({method}): {'; '.join(problems)}")
        finally:
            oracle.close()
        return failed, notes


PUBLIC = ["sex", "race", "region", "education", "marital", "workclass", "income"]
AUDIT_QI = ["age", "sex", "race", "education", "region", "marital", "zip3"]
DP_KINDS = ["dp_count", "dp_sum", "dp_avg", "dp_histogram", "dp_quantile", "dp_topk",
            "dp_count_gaussian"]
AUDIT_KINDS = ["k_anonymity_audit", "reid_risk", "t_violations"]
# one block of requests: 80% DP releases, 20% audits, every kind present
BLOCK = DP_KINDS * 2 + ["dp_count", "dp_histogram"] + AUDIT_KINDS + ["k_anonymity_audit"]


def request_spec(seed: int, task: int) -> dict:
    """Request ``task`` of the seeded mix. Every block of ``len(BLOCK)``
    requests holds the kinds of ``BLOCK`` in a seeded order, so runs of whole
    blocks share one mix; columns and parameters are drawn per request."""
    block, pos = divmod(task, len(BLOCK))
    order = list(BLOCK)
    random.Random(seed * 1_000_003 + block).shuffle(order)
    kind = order[pos]
    rng = random.Random((seed * 1_000_003 + block) * 131 + pos)
    if kind in DP_KINDS:
        spec = {"kind": kind, "by": rng.sample(PUBLIC, rng.randint(1, 2)), "eps": 0.5}
        if kind == "dp_sum":
            spec.update(col="hours", lower=0.0, upper=99.0)
        elif kind == "dp_avg":
            spec.update(col="age", lower=17.0, upper=90.0)
        elif kind == "dp_histogram":
            spec.update(col=rng.choice(["age", "hours"]), n_bins=rng.choice([8, 10, 16]),
                        lower=0.0, upper=100.0)
        elif kind == "dp_quantile":
            spec.update(col="age", q=rng.choice([0.25, 0.5, 0.9]), lower=17.0, upper=90.0)
        elif kind == "dp_topk":
            spec["by"] = spec["by"][:1]
            spec.update(col="occupation", k=3)
        elif kind == "dp_count_gaussian":
            spec.update(delta=1e-6)
        return spec
    if kind == "t_violations":
        return {"kind": kind, "qi": rng.sample(PUBLIC[:-1], rng.randint(2, 3)),
                "sensitive": "income", "t": 0.2}
    return {"kind": kind, "qi": rng.sample(AUDIT_QI, rng.randint(3, 4)), "k": K}


class AnalystQueries(_CensusWorkload):
    """One request per operation from a seeded mix; every request scans the
    (uncached) census parquet and collects its few-KB result."""

    name = "analyst_queries"
    round_size = len(BLOCK)

    def __init__(self, seed: int, work: str, collect) -> None:
        super().__init__(seed, work, collect)
        self.results: dict[int, tuple[dict, list[dict]]] = {}

    def prepare(self, spark) -> None:
        super().prepare(spark)
        # one accountant per run, sized so no request of the run is refused
        self.budget = _engine()["operators.dp"].PrivacyBudget(1e9, 0.5)

    def _request(self, spec: dict) -> list[dict]:
        e = _engine()
        dp, df = e["operators.dp"], self.spark.read.parquet(self.census)
        kind, by = spec["kind"], spec.get("by")
        b = self.budget
        if kind == "dp_count":
            out = dp.dp_count(df, by, spec["eps"], budget=b)
        elif kind == "dp_count_gaussian":
            out = dp.dp_count_gaussian(df, by, spec["eps"], spec["delta"], budget=b)
        elif kind == "dp_sum":
            out = dp.dp_sum(df, by, spec["col"], spec["eps"], spec["lower"], spec["upper"], budget=b)
        elif kind == "dp_avg":
            out = dp.dp_avg(df, by, spec["col"], spec["eps"], spec["lower"], spec["upper"], budget=b)
        elif kind == "dp_histogram":
            out = dp.dp_histogram(df, spec["col"], spec["n_bins"], spec["eps"], spec["lower"],
                                  spec["upper"], budget=b)
        elif kind == "dp_quantile":
            out = dp.dp_quantile(df, by, spec["col"], spec["q"], spec["eps"], spec["lower"],
                                 spec["upper"], budget=b)
        elif kind == "dp_topk":
            out = dp.dp_topk(df, by, spec["col"], spec["k"], spec["eps"], budget=b,
                             candidates=gen.OCCUPATION)
        elif kind == "k_anonymity_audit":
            out = e["operators.kanonymity"].k_anonymity_audit(df, spec["qi"], spec["k"])
        elif kind == "reid_risk":
            out = e["operators.metrics"].reid_risk(df, spec["qi"])
        else:
            out = e["operators.tcloseness"].t_violations(df, spec["qi"], spec["sensitive"], spec["t"])
        return [r.asDict() for r in self.collect(out)]

    def warm_up(self) -> None:
        specs = []
        for kind in DP_KINDS + AUDIT_KINDS:
            task = next(t for t in range(10_000) if request_spec(self.seed + 1, t)["kind"] == kind)
            specs.append(request_spec(self.seed + 1, task))
        _side_by_side([functools.partial(self._request, spec) for spec in specs])
        self.after(-1)

    def run(self, task: int, op: int) -> int:
        spec = request_spec(self.seed, task)
        self.results[op] = (spec, self._request(spec))
        return self.rows

    def layer_numbers(self, op: int) -> dict[str, float]:
        return {"operators.util.cached_relations": self.cached[op]}

    def check(self) -> tuple[set[int], list[str]]:
        oracle = checks.CensusOracle(self.census)
        failed, notes = set(), []
        try:
            for op, (spec, rows) in sorted(self.results.items()):
                problems = checks.check_request(spec, rows, oracle)
                if problems:
                    failed.add(op)
                    notes.append(f"op {op} ({spec}): {'; '.join(problems)}")
        finally:
            oracle.close()
        return failed, notes


EVENTS_PER_FILE = 20_000
EVENT_USERS = 50_000
STREAM_WARM_FILES = 2
STREAM_RELEASE = "perfbench"
DURATIONS = {
    "streaming.trigger_ms": "triggerExecution",
    "streaming.add_batch_ms": "addBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.get_batch_ms": "getBatch",
    "streaming.wal_commit_ms": "walCommit",
}


class StreamRelease:
    """One event file lands in the watched directory per operation; the
    operation ends when the windowed k-anonymity stream and the DP windowed
    count stream have both processed it."""

    name = "stream_release"
    round_size = 6

    def __init__(self, seed: int, work: str, collect) -> None:
        self.seed, self.work, self.collect = seed, work, collect
        self.n_prepared = 0
        self.queries = []
        self.landed: dict[int, int] = {}  # file index -> op (-1: set-up or warm-up)
        self.last_batch: dict[str, int] = {}

    def prepare(self, spark) -> None:
        self.spark = spark
        run = os.path.join(self.work, f"stream-{self.n_prepared}")
        self.n_prepared += 1
        self.watched = os.path.join(run, "landing")
        self.staging = os.path.join(run, "staging")
        self.checkpoints = os.path.join(run, "checkpoints")
        for d in (self.watched, self.staging):
            os.makedirs(d)
        self.landed, self.last_batch = {}, {}
        self._land(self._stage(), -1)  # the file source infers nothing from an empty directory
        a = _engine()["streaming.anonymize"]
        kanon = a.windowed_kanon_stream(spark, self.watched, k=K)
        dp = a.dp_windowed_count_stream(spark, self.watched, epsilon=1.0,
                                        seed=self.seed, release=STREAM_RELEASE)
        self.queries = [
            df.writeStream.format("memory").queryName(f"perfbench_{name}")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(self.checkpoints, name))
            .start()
            for name, df in (("kanon", kanon), ("dp", dp))
        ]
        self._process()

    def _stage(self, hours_ahead: int = 0, n_rows: int = EVENTS_PER_FILE) -> tuple[int, str]:
        """Write the next event file (event-time hour ``index``) to staging."""
        index = len(self.landed) + hours_ahead
        staged = os.path.join(self.staging, f"events-{index:05d}.parquet")
        gen.write_event_file(self.seed, index, n_rows, EVENT_USERS, staged)
        return index, staged

    def _land(self, staged: tuple[int, str], op: int) -> None:
        """Move a staged file into the watched directory in one rename."""
        index, path = staged
        self.landed[index] = op
        os.rename(path, os.path.join(self.watched, os.path.basename(path)))

    def _process(self) -> None:
        for q in self.queries:
            q.processAllAvailable()

    def warm_up(self) -> None:
        for _ in range(STREAM_WARM_FILES):
            self._land(self._stage(), -1)
            self._process()
        self._new_progress()

    def before(self) -> None:
        self._next_staged = self._stage()

    def run(self, task: int, op: int) -> int:
        self._land(self._next_staged, op)
        self._process()
        return EVENTS_PER_FILE

    def after(self, op: int) -> None:
        pass

    def job_groups(self, op: int) -> list[str]:
        """Micro-batches run in the streams' threads, under their run ids."""
        return [str(q.runId) for q in self.queries]

    def _new_progress(self) -> list[tuple[str, dict]]:
        out = []
        for q in self.queries:
            for p in q.recentProgress:
                if p["batchId"] > self.last_batch.get(q.name, -1):
                    out.append((q.name, p))
                    self.last_batch[q.name] = p["batchId"]
        return out

    def layer_numbers(self, op: int) -> dict[str, float]:
        progress = self._new_progress()
        nums = {m: float(sum(p["durationMs"].get(k, 0) for _, p in progress))
                for m, k in DURATIONS.items()}
        latest: dict[str, dict] = {}
        for name, p in progress:
            if p.get("stateOperators"):
                latest[name] = p["stateOperators"][0]
        nums["streaming.state_rows"] = float(sum(s["numRowsTotal"] for s in latest.values()))
        nums["streaming.state_mb"] = sum(s["memoryUsedBytes"] for s in latest.values()) / MB
        return nums

    @staticmethod
    def _watermark(q) -> datetime:
        """The query's last watermark, as a naive UTC datetime like collected rows."""
        return datetime.strptime(q.lastProgress["eventTime"]["watermark"], "%Y-%m-%dT%H:%M:%S.%fZ")

    def check(self) -> tuple[set[int], list[str]]:
        """Each stream's emitted windows against its batch twin over the same
        files, for every window the final watermark has closed. A differing
        window fails the operation that landed its file; one from a set-up or
        warm-up file only makes the run incorrect."""
        from pyspark.sql import functions as F

        a = _engine()["streaming.anonymize"]
        # one event three hours past the last file moves the watermark past
        # every window the operations' files filled, so all of them close
        self._land(self._stage(hours_ahead=3, n_rows=1), -1)
        self._process()
        stopped = self.queries
        self.close()
        watermarks = {q.name: self._watermark(q) for q in stopped}
        events = self.spark.read.schema(a.EVENTS_SCHEMA).parquet(self.watched)
        twins = {
            "perfbench_kanon": a.windowed_kanon_batch(events, k=K),
            "perfbench_dp": a.dp_windowed_count_batch(events, epsilon=1.0, seed=self.seed,
                                                       release=STREAM_RELEASE),
        }
        epoch = gen.EVENT_EPOCH.replace(tzinfo=None)
        failed, notes = set(), []
        for name, twin in twins.items():
            closed = watermarks[name] - timedelta(hours=1)
            want = {tuple(r) for r in self.collect(twin.filter(F.col("window_start") <= F.lit(closed)))}
            got = {tuple(r) for r in self.collect(self.spark.table(name))}
            for row in want ^ got:
                hour = int((row[0] - epoch).total_seconds() // 3600)
                if self.landed.get(hour, -1) >= 0:
                    failed.add(self.landed[hour])
                notes.append(f"{name}: window {row[0]} {row[1]} differs from the batch twin")
        return failed, notes

    def close(self) -> None:
        for q in self.queries:
            q.stop()
        self.queries = []


WORKLOADS = {w.name: w for w in (AnonRelease, AnalystQueries, StreamRelease)}
