"""Output checks, run after the timed region. Batch results are compared with
DuckDB over the same parquet files the engine read; a failed check marks
its operation failed."""

from __future__ import annotations

import math
from typing import Sequence

import duckdb

TOL = 1.5e-9  # results the engine rounds to 9 decimals


def _cols(cols: Sequence[str]) -> str:
    return ", ".join(f'"{c}"' for c in cols)


def _close(a, b, tol: float = TOL) -> bool:
    return a is not None and b is not None and abs(float(a) - float(b)) <= tol * max(1.0, abs(float(b)))


class CensusOracle:
    """DuckDB answers over the census parquet, memoized per question."""

    def __init__(self, census_dir: str) -> None:
        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE VIEW census AS SELECT * FROM read_parquet('{census_dir}/*.parquet')"
        )
        self._memo: dict = {}

    def close(self) -> None:
        self.con.close()

    def _q(self, sql: str):
        if sql not in self._memo:
            self._memo[sql] = self.con.execute(sql).fetchall()
        return self._memo[sql]

    def n_rows(self) -> int:
        return self._q("SELECT count(*) FROM census")[0][0]

    def grouped(self, by: Sequence[str], agg: str) -> dict[tuple, object]:
        rows = self._q(f"SELECT {_cols(by)}, {agg} FROM census GROUP BY ALL")
        return {tuple(r[:-1]): r[-1] for r in rows}

    def class_sizes(self, qi: Sequence[str]) -> list[int]:
        return [r[-1] for r in self._q(f"SELECT {_cols(qi)}, count(*) FROM census GROUP BY ALL")]

    def kept_rows(self, qi: Sequence[str], k: int) -> int:
        return sum(n for n in self.class_sizes(qi) if n >= k)

    def histogram(self, col: str, n_bins: int, lo: float, hi: float) -> dict[int, int]:
        clipped = f'LEAST(GREATEST("{col}", {lo!r}), {hi!r})'
        bin_expr = f"CAST(LEAST(FLOOR(({clipped} - {lo!r}) * {n_bins} / {hi - lo!r}), {n_bins - 1}) AS INT)"
        rows = self._q(f"SELECT {bin_expr} AS b, count(*) FROM census GROUP BY b")
        got = {b: 0 for b in range(n_bins)}
        got.update({r[0]: r[1] for r in rows})
        return got

    def emd(self, qi: Sequence[str], sensitive: str) -> list[float]:
        """Per-class EMD of ``sensitive`` against the table distribution,
        folded in the engine's order (``operators.tcloseness``)."""
        rows = self._q(
            f'SELECT {_cols(qi)}, "{sensitive}", count(*) FROM census GROUP BY ALL'
        )
        glob: dict = {}
        per_class: dict[tuple, dict] = {}
        for r in rows:
            key, val, cnt = tuple(r[:-2]), r[-2], r[-1]
            glob[val] = glob.get(val, 0) + cnt
            per_class.setdefault(key, {})[val] = cnt
        support = sorted(glob)
        total = sum(glob.values())
        pg = [glob[v] / total for v in support]
        out = []
        for m in per_class.values():
            tot = sum(m.values())
            cum, emd = None, 0.0
            for j, v in enumerate(support):
                d = m.get(v, 0) / tot - pg[j]
                cum = d if cum is None else cum + d
                if j < len(support) - 1:
                    emd += abs(cum)
            out.append(emd)
        return out


def check_release(kind: str, metrics: dict, release_dir: str, oracle: CensusOracle,
                  qi: Sequence[str], k: int, n_clusters: int = 0) -> list[str]:
    """Problems with one written release and its metrics row ([] = correct)."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW rel AS SELECT * FROM read_parquet('{release_dir}/*.parquet')")
        n = con.execute("SELECT count(*) FROM rel").fetchone()[0]
        sizes = [r[0] for r in con.execute(f"SELECT count(*) FROM rel GROUP BY {_cols(qi)}").fetchall()]
        problems = []
        if kind in ("naive", "tclose"):
            if n != metrics["n_anon"]:
                problems.append(f"{n} rows written, metrics say n_anon={metrics['n_anon']}")
            if sizes and min(sizes) < k:
                problems.append(f"a written class has {min(sizes)} < k={k} rows")
            if metrics["n_orig"] != oracle.n_rows():
                problems.append(f"n_orig={metrics['n_orig']}, census has {oracle.n_rows()}")
            if kind == "naive" and metrics["n_anon"] != oracle.kept_rows(qi, k):
                problems.append(f"n_anon={metrics['n_anon']}, DuckDB keeps {oracle.kept_rows(qi, k)}")
        else:  # clustering keeps every row and measures, not applies, suppression
            if n != oracle.n_rows():
                problems.append(f"{n} rows written, census has {oracle.n_rows()}")
            clusters = con.execute(
                "SELECT cluster, count(*) FROM rel GROUP BY cluster"
            ).fetchall()
            if any(not 0 <= c < n_clusters for c, _ in clusters):
                problems.append("cluster id out of range")
            small = sum(s for _, s in clusters if s < k)
            if not _close(metrics["suppression_rate"], small / n):
                problems.append(f"suppression_rate={metrics['suppression_rate']}, expected {small / n}")
            if not _close(metrics["reid_risk"], len(clusters) / n):
                problems.append(f"reid_risk={metrics['reid_risk']}, expected {len(clusters) / n}")
            if metrics["k_satisfied"] != (min(s for _, s in clusters) >= k):
                problems.append("k_satisfied disagrees with the written cluster sizes")
        return problems
    finally:
        con.close()


def check_request(spec: dict, rows: list[dict], oracle: CensusOracle) -> list[str]:
    """Problems with one analyst request's collected result ([] = correct):
    the pre-noise ``*_exact`` columns and audit rows against DuckDB."""
    kind, by = spec["kind"], spec.get("by", [])
    problems: list[str] = []

    def keyed(col: str) -> dict[tuple, object]:
        return {tuple(r[c] for c in by): r[col] for r in rows}

    def same_groups(got: dict, want: dict) -> bool:
        if set(got) != set(want):
            problems.append(f"{len(got)} groups released, DuckDB has {len(want)}")
            return False
        return True

    if kind in ("dp_count", "dp_count_gaussian"):
        got, want = keyed("count_exact"), oracle.grouped(by, "count(*)")
        if same_groups(got, want) and got != want:
            problems.append("count_exact differs from DuckDB")
        if any(not math.isfinite(r["count_dp"]) for r in rows):
            problems.append("non-finite count_dp")
    elif kind == "dp_sum":
        lo, hi, col = spec["lower"], spec["upper"], spec["col"]
        got = keyed("sum_exact")
        want = oracle.grouped(by, f'sum(LEAST(GREATEST("{col}", {lo!r}), {hi!r}))')
        if same_groups(got, want) and any(not _close(got[g], want[g]) for g in want):
            problems.append("sum_exact differs from DuckDB")
    elif kind == "dp_avg":
        lo, hi, col = spec["lower"], spec["upper"], spec["col"]
        got = keyed("avg_exact")
        want = oracle.grouped(by, f'avg(LEAST(GREATEST("{col}", {lo!r}), {hi!r}))')
        if same_groups(got, want) and any(not _close(got[g], want[g]) for g in want):
            problems.append("avg_exact differs from DuckDB")
    elif kind == "dp_histogram":
        got = {r["bin"]: r["count_exact"] for r in rows}
        if got != oracle.histogram(spec["col"], spec["n_bins"], spec["lower"], spec["upper"]):
            problems.append("histogram count_exact differs from DuckDB")
    elif kind == "dp_quantile":
        lo, hi, col = spec["lower"], spec["upper"], spec["col"]
        got = keyed(col)
        if same_groups(got, oracle.grouped(by, "count(*)")) and any(
            not lo <= v <= hi for v in got.values()
        ):
            problems.append("released quantile outside the public bounds")
    elif kind == "dp_topk":
        cand, k = spec["col"], spec["k"]
        want = oracle.grouped([*by, cand], "count(*)")
        groups = oracle.grouped(by, "count(*)")
        per_group: dict[tuple, list[int]] = {}
        for r in rows:
            g = tuple(r[c] for c in by)
            per_group.setdefault(g, []).append(r["rank"])
            if r["score_exact"] != want.get((*g, r[cand]), 0):
                problems.append("topk score_exact differs from DuckDB")
                break
        if set(per_group) != set(groups) or any(
            sorted(v) != list(range(1, k + 1)) for v in per_group.values()
        ):
            problems.append("topk does not release ranks 1..k for every group")
    elif kind == "k_anonymity_audit":
        sizes, k = oracle.class_sizes(spec["qi"]), spec["k"]
        want = {
            "n_classes": len(sizes),
            "min_class_size": min(sizes),
            "max_class_size": max(sizes),
            "classes_below_k": sum(1 for s in sizes if s < k),
            "rows_at_risk": sum(s for s in sizes if s < k),
            "k_satisfied": min(sizes) >= k,
        }
        got = {c: rows[0][c] for c in want}
        if got != want:
            problems.append(f"audit {got} != DuckDB {want}")
    elif kind == "reid_risk":
        sizes = oracle.class_sizes(spec["qi"])
        if not _close(rows[0]["reid_risk"], len(sizes) / sum(sizes)):
            problems.append(f"reid_risk {rows[0]['reid_risk']} != {len(sizes) / sum(sizes)}")
    elif kind == "t_violations":
        t = spec["t"]
        emds = oracle.emd(spec["qi"], spec["sensitive"])
        sure = sum(1 for e in emds if e > t + TOL)
        maybe = sum(1 for e in emds if abs(e - t) <= TOL)  # rounding decides these
        r = rows[0]
        if r["total_groups"] != len(emds) or not sure <= r["violations"] <= sure + maybe:
            problems.append(f"t_violations {r['violations']}/{r['total_groups']} vs {sure}/{len(emds)}")
        elif not _close(r["violation_rate"], r["violations"] / r["total_groups"]):
            problems.append("violation_rate inconsistent with its counts")
    else:
        problems.append(f"no check for {kind}")
    return problems
