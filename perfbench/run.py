"""Privacy-release benchmark: bulk anonymized releases, interactive DP
queries and streaming releases, driven from one process on local[nproc].

    python3 perfbench/run.py --workload anon_release --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5

Run from the repository root. Prints every metric by name with its unit and
sample count, then, as the last line, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.layers import layer_metrics  # noqa: E402
from perfbench.sparkstats import SparkCounters  # noqa: E402
from perfbench.stats import failure_ratio, summarize  # noqa: E402
from perfbench.trace import Instrumentation, SpanRecorder  # noqa: E402
from perfbench.workloads import JOB_GROUP, WORKLOADS  # noqa: E402

SETUPS = 3  # set-ups per run; setup_s is their median
HEAP = "2g"  # driver JVM heap, minimum and maximum


def _configure(work: str) -> int:
    """Environment for the Spark session: local[nproc], shuffle partitions
    sized for it, and every file the run writes inside ``work``. The heap starts at
    its maximum: grown on demand, its size at the end of a run depends on
    when the collector ran, and peak RSS varied by a quarter between runs."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(2 * cpus),
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "TZ": "UTC",
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false "
        # -XX:-UsePerfData: the JVM's perf file would go to /tmp whatever tmpdir says
        f"--driver-java-options '-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={tmp}' pyspark-shell",
    })
    tempfile.tempdir = None
    time.tzset()
    return cpus


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _shutdown() -> None:
    """Stop the Spark session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at the end of its input
        proc.wait(timeout=60)


def _run_all(args) -> int:
    code = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        code = max(code, subprocess.run(cmd).returncode)
    return code


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import dbms_data_anonymity_differential_privacy_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2

    if args.workload == "all":
        return _run_all(args)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)} or all",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        cpus = _configure(work)
        result = Run(args, work, cpus).execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


class Run:
    def __init__(self, args, work: str, cpus: int) -> None:
        self.args, self.cpus = args, cpus
        self.trace = bool(args.trace)
        self.recorder = SpanRecorder()
        self.instrumentation = Instrumentation(self.recorder)
        self.wl = WORKLOADS[args.workload](args.seed, work, self._collect)

    def _collect(self, df):
        with self.recorder.span("action", "collect"):
            return df.collect()

    def execute(self) -> dict:
        from dbms_data_anonymity_differential_privacy_spark import get_spark

        wl = self.wl
        setups = []
        try:
            for i in range(SETUPS):
                if i:
                    wl.close()
                    self.spark.stop()
                t0 = time.perf_counter()
                self.spark = get_spark(app_name="perfbench")
                self.spark.sparkContext.setLogLevel("ERROR")
                wl.prepare(self.spark)
                setups.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            wl.warm_up()
            warm_s = time.perf_counter() - t0
            if self.trace:
                self.counters = SparkCounters(self.spark)
                self.instrumentation.install()
            try:
                ops = self._loop()
            finally:
                self.instrumentation.restore()
            jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
            rss_mb = (_vm_hwm_mb(jvm_pid), _vm_hwm_mb("self"))
            wrong, notes = wl.check()
        finally:
            wl.close()
            _shutdown()

        attempted = len(ops["latency"])
        failed = len(ops["errors"] | wrong)
        for note in notes[:20]:
            print(f"  check failed: {note}")
        print(f"{wl.name}: seed {self.args.seed}, {attempted} operations in "
              f"{ops['wall']:.1f} s, {failed} failed; set-ups {[round(s, 2) for s in setups]} s, "
              f"warm-up {warm_s:.1f} s")
        if self.trace:
            metrics = self._layer_metrics(ops)
        else:
            metrics = self._end_to_end(ops, setups, rss_mb, attempted, failed)
        return {"correct": failed == 0 and not notes, "attempted": attempted,
                "failed": failed, "metrics": metrics}

    def _loop(self) -> dict:
        wl, sc = self.wl, self.spark.sparkContext
        per_round = wl.round_size * (2 if self.trace else 1)
        latency, walls, rows, errors = {}, {}, 0, set()
        traced_ops, numbers, counters = [], {}, {}
        start = time.perf_counter()
        op = 0
        while op == 0 or op % per_round or time.perf_counter() - start < self.args.seconds:
            # traced runs pair every task: once untraced, once traced, taking
            # turns which goes first so neither side always runs the repeat
            task, traced = (op // 2, op % 2 != op // 2 % 2) if self.trace else (op, False)
            wl.before()
            if traced:
                self.recorder.op_id = op
                sc.setJobGroup(JOB_GROUP.format(op=op), f"perfbench operation {op}")
            w0, t0 = time.time(), time.perf_counter()
            try:
                rows += wl.run(task, op)
            except Exception:  # noqa: BLE001 — a failed operation is counted, the run goes on
                traceback.print_exc()
                errors.add(op)
            latency[op] = time.perf_counter() - t0
            walls[op] = (w0, time.time())
            if traced:
                self.recorder.op_id = None
                sc.setLocalProperty("spark.jobGroup.id", None)
            wl.after(op)
            if self.trace:
                nums = wl.layer_numbers(op)
                jobs = self.counters.new_job_ids(wl.job_groups(op))
                if traced:
                    traced_ops.append(op)
                    numbers[op] = nums
                    counters[op] = self.counters.collect(jobs, *walls[op])
            op += 1
        return {"latency": latency, "wall": time.perf_counter() - start, "rows": rows,
                "errors": errors, "traced": traced_ops, "numbers": numbers,
                "counters": counters, "walls": walls}

    def _end_to_end(self, ops, setups, rss_mb, attempted, failed) -> dict:
        lat = summarize([v * 1000.0 for v in ops["latency"].values()])
        ok = 1.0 - failure_ratio(attempted, failed)
        rows_per_s = ops["rows"] / ops["wall"]
        rows = [
            ("setup_s", statistics.median(setups), "s", f"median of {len(setups)} set-ups"),
            ("rows_per_s", rows_per_s, "rows/s", f"{ops['rows']} input rows"),
            ("op_ms_p50", lat.p50, "ms", f"n={lat.n}"),
            ("op_ms_p90", lat.p90, "ms", f"n={lat.n}, {lat.beyond_p90} beyond"),
            ("ok_ratio", ok, "ratio", f"failed_ratio={1.0 - ok:.4f} ({failed}/{attempted})"),
            ("peak_rss_mb", sum(rss_mb), "MB", "VmHWM: JVM {:.0f} + Python {:.0f}".format(*rss_mb)),
        ]
        for name, value, unit, note in rows:
            print(f"  {name:<14} {value:>14.4f} {unit:<7} {note}")
        return {name: {"value": value, "unit": unit} for name, value, unit, _ in rows}

    def _layer_metrics(self, ops) -> dict:
        metrics = layer_metrics(ops, self.recorder.spans, self.cpus)
        for name, m in metrics.items():
            print(f"  {name:<44} {m['value']:>14.4f} {m['unit']}")
        return metrics


if __name__ == "__main__":
    sys.exit(main())
