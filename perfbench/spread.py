"""Run one workload under several seeds and report, for every metric, the
median and the spread (quartile distance over median) next to the bound
BENCHMARK.json fixes. Run from the repository root:

    python3 perfbench/spread.py --workload analyst_queries --seeds 1-10
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.stats import spread  # noqa: E402


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}

    values: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
        t0 = time.perf_counter()
        out = subprocess.run(cmd, capture_output=True, text=True)
        wall = time.perf_counter() - t0
        if out.returncode != 0:
            print(out.stderr[-2000:], file=sys.stderr)
            return out.returncode
        result = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={result['correct']} attempted={result['attempted']} "
              f"failed={result['failed']} wall={wall:.1f}s", flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vs in values.items():
        med = statistics.median(vs)
        s = spread(vs) if len(vs) >= 2 and med else float("nan")
        bound = bounds.get(name)
        flag = "" if bound is None else ("ok" if s <= bound / 3 else "WIDE" if s > bound else "near")
        print(f"{name:<44} median {med:>14.4f}  spread {s:7.4f}  bound {bound}  {flag}")
        print(f"    {' '.join(f'{v:.4g}' for v in vs)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
