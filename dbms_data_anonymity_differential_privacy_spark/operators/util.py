"""Physical-layout helpers."""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from contextlib import contextmanager

from pyspark.sql import DataFrame


# Session-scoped ledger of every relation the engine persists on the
# caller's behalf (the pipelines' and t-closeness operators' shared
# counts and verdict-key relations, the pipelines' released relations).
# HARD-capped: harnesses that rely on
# spark.catalog.clearCache() between queries never drain the ledger's
# Python/JVM plan references, so without a cap a long bench sweep or
# composition loop would accumulate them until process exit. On
# overflow the OLDEST entry is unpersisted and dropped — correctness-
# safe (a cache release only risks recompute), and an entry that old is
# long past its consuming action.
_CACHE_LEDGER: list[DataFrame] = []
_CACHE_LEDGER_CAP = 512


def track_cached(df: DataFrame) -> DataFrame:
    """Record a persisted relation in the engine's cache ledger so
    :func:`release_cached_relations` can unpersist it later. Returns the
    input unchanged (wrap-at-persist idiom:
    ``track_cached(df.persist())``)."""
    while len(_CACHE_LEDGER) >= _CACHE_LEDGER_CAP:
        old = _CACHE_LEDGER.pop(0)
        try:
            old.unpersist()
        except Exception:  # noqa: BLE001 — dead session entries just drop
            pass
    _CACHE_LEDGER.append(df)
    return df


def release_cached_relations() -> int:
    """Unpersist every ledger-tracked relation — the ownership contract
    for long-lived sessions composing many k-anonymize / t-closeness /
    pipeline calls, whose internally-persisted relations the caller
    otherwise cannot reach. Call it AFTER the consuming action (collect/
    write); the blocks are only a cache, so a too-early release merely
    forfeits reuse (plans recompute), never correctness. The engine's
    harnesses clear the whole Spark cache between queries, which
    subsumes this. Returns the number of relations released."""
    n = 0
    for df in _CACHE_LEDGER:
        try:
            df.unpersist()
            n += 1
        except Exception:  # noqa: BLE001 — a dead session must not
            pass  # block releasing the rest
    _CACHE_LEDGER.clear()
    return n


def free_local_checkpoint(df: DataFrame) -> bool:
    """Deterministically release the storage blocks behind a
    ``df.localCheckpoint(eager=True)`` result.

    ONLY safe when NOTHING will read ``df`` (or any plan derived from
    it) again: a local checkpoint's lineage is truncated, so after the
    blocks are dropped the relation is unrecomputable — any later
    action on it fails. The intended caller is an iterative loop that
    checkpoints per round: once round N+1's checkpoint is materialized,
    round N's relation has zero consumers and its blocks (which
    otherwise linger until JVM GC notices the dropped reference —
    round-9 review) can be freed eagerly.

    These relations must NEVER ride the :func:`track_cached` ledger —
    :func:`release_cached_relations` frees blocks that plans may still
    re-read, which is fine for a cache but corrupts a checkpoint.

    Returns True if a backing RDD was found and unpersisted."""
    try:
        node = df._jdf.queryExecution().analyzed()
        if node.getClass().getName().endswith("LogicalRDD"):
            node.rdd().unpersist(False)
            return True
    except Exception:  # noqa: BLE001 — freeing is best-effort; GC is
        pass  # the fallback, exactly the pre-round-10 behavior
    return False


LOOP_AQE_MAX_ROWS = int(os.environ.get("SPARK_GRAFT_LOOP_AQE_MAX_ROWS", str(50_000_000)))

# Bytes of loop-relation data per post-shuffle partition inside a
# bounded loop (see bounded_loop_plan): with AQE's runtime coalescing
# scoped off, the loop's exchanges would otherwise keep the session's
# static spark.sql.shuffle.partitions — at the gate's slim-relation
# sizes that is dozens of near-empty tasks per stage, and a 10-round
# loop is 20+ sequential stages of pure task-launch latency. The static
# replacement AQE would have computed: partitions = ceil(row_bytes /
# target), derived from the measured edge count, never from the local
# core count. 1 MB ≈ 32k loop rows per task (vs the session's 16 MB
# advisory for fat scans): loop rounds are join+agg CPU over slim rows,
# so they want parallelism earlier than byte-bound stages — bracketed
# A/B at sf0.1 (r11): x126_pagerank_dist 7.6/8.3 s at the session's 32
# partitions vs 5.8/6.9 s at 1 MB, and 16 MB (one partition) loses the
# win again (8.5 s).
LOOP_PARTITION_TARGET_BYTES = int(
    os.environ.get("SPARK_GRAFT_LOOP_PARTITION_BYTES", str(1024 * 1024))
)
_LOOP_ROW_BYTES = 32  # two ids + agg key/value headroom per loop row

# SparkSession confs are shared across driver threads, so two concurrent
# bounded loops (or a loop racing any other conf toggler) could interleave
# set/restore and leave AQE off for the rest of the session (r10 advisory).
# The engine's query paths are single-threaded today; the lock makes the
# toggle safe if a caller ever runs loops from a thread pool — concurrent
# loops serialize on it, which is the correct semantics for a session-
# global knob. RLock: a loop that composes another bounded loop in the
# same thread (bfs inside a pipeline) must not deadlock.
_LOOP_PLAN_LOCK = threading.RLock()


def bounded_plan_result(df: DataFrame, n_rows: int, max_rows: int | None = None) -> DataFrame:
    """Materialize a bounded analytic's result under the loop-plan scope
    — the non-iterative twin of :func:`bounded_loop_plan`.

    One-shot analytics over a small persisted relation (local
    clustering, assortativity, the near-dup pair cascade) spend their
    wall on AQE stage scheduling, not compute: every exchange in the
    join/agg cascade becomes its own re-planned query stage, so a
    3.6k-edge graph pays 30-40 sequential driver round-trips (measured
    at sf0.1: x195 4.6 s, 39 jobs). Because AQE and the
    shuffle-partition conf are read at ACTION time, the scope only helps
    if the plan executes inside it — hence the eager persist + count.

    persist (not localCheckpoint) deliberately: the cached relation
    rides the cache ledger (released by ``release_cached_relations``,
    and safe to release — unlike a checkpoint it RECOMPUTES from lineage
    if re-read after release, merely without the scope), and the logical
    plan stays inspectable (the engine's plan-gate tests grep it).

    Size-gated exactly like the loops: above ``max_rows`` (default
    ``LOOP_AQE_MAX_ROWS``) this is a passthrough — no conf change, no
    eager materialization, AQE skew handling kept. Plan-only: the
    returned rows are the same InternalRows the lazy plan produces.
    """
    max_rows = LOOP_AQE_MAX_ROWS if max_rows is None else max_rows
    if n_rows > max_rows:
        return df
    with bounded_loop_plan(df.sparkSession, n_rows, max_rows):
        out = track_cached(df.persist())
        out.count()
        return out


@contextmanager
def bounded_loop_plan(spark, n_rows: int, max_rows: int | None = None):
    """Scoped AQE-off for a BOUNDED iterative loop over slim id relations.

    AQE re-optimizes the remaining plan at every exchange-stage
    submission. For a fixed-shape loop (pagerank / label propagation /
    BFS / peeling rounds) whose per-round relations are node- or
    edge-id-sized, that re-planning is pure driver latency multiplied by
    the round count: each round's single partial-agg exchange has a
    known uniform layout, runtime coalescing can only rediscover the
    same answer every round, and AQE's skew-JOIN splitting does not
    apply to aggregation exchanges at this size. Measured at sf0.1
    (x126_pagerank_dist, 10 rounds): iteration wall 6.0 s with AQE vs
    4.8 s without, bit-identical output (integer arithmetic).

    The decision is size-gated, not unconditional (the hybrid-threshold
    discipline of ``connected_components``/``pagerank_int``): above
    ``max_rows`` edge rows (default 50M ≈ 800 MB of 16-byte pairs, env
    ``SPARK_GRAFT_LOOP_AQE_MAX_ROWS``) the loop keeps AQE — at that
    scale per-round joins of power-law graphs can produce genuinely
    skewed join partitions where AQE's runtime skew-split earns its
    latency. Restores the previous setting on exit (exception-safe), so
    surrounding non-loop plans keep their session AQE behavior.
    """
    max_rows = LOOP_AQE_MAX_ROWS if max_rows is None else max_rows
    if n_rows > max_rows:
        yield
        return
    key = "spark.sql.adaptive.enabled"
    pkey = "spark.sql.shuffle.partitions"
    with _LOOP_PLAN_LOCK:
        prev = spark.conf.get(key, "true")
        prev_parts = spark.conf.get(pkey, "200")
        # the size-derived partition count AQE coalescing would have
        # converged on (see LOOP_PARTITION_TARGET_BYTES); never grow
        # past the session setting — the gate means n_rows is small
        loop_parts = max(
            1, min(int(prev_parts), (n_rows * _LOOP_ROW_BYTES) // LOOP_PARTITION_TARGET_BYTES)
        )
        spark.conf.set(key, "false")
        spark.conf.set(pkey, str(loop_parts))
        try:
            yield
        finally:
            spark.conf.set(key, prev)
            spark.conf.set(pkey, prev_parts)


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition a *narrow* input so CPU-heavy per-row work (regex
    shingling, hash signatures, vector math) uses every core.

    Small benchmark inputs arrive as ONE parquet file → one partition → the
    whole downstream pipeline runs single-threaded regardless of cluster
    size. At real scale inputs already have >= cores partitions and this is
    a no-op (the check is against the actual partition count, so no shuffle
    is added on a 100 TB multi-file scan).
    """
    if df.isStreaming:
        # partition probing needs .rdd (batch-only); micro-batch sizing is
        # the source's job (maxFilesPerTrigger etc.), so pass through
        return df
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if _partition_count(df) >= target:
        return df
    return df.repartition(target)


_PARTITION_COUNT_CACHE: OrderedDict[tuple, int] = OrderedDict()


def _partition_count(df: DataFrame) -> int:
    """Partition count of a batch DataFrame, memoized by (semantic plan
    hash, schema, input-file count, session parallelism):
    ``df.rdd.getNumPartitions()`` converts the plan to an RDD (no job,
    but real analysis cost), and composition loops — the near-dup suite
    calls fan_out on the same token relation per detector — would
    otherwise pay it once per call. The composite key makes a raw
    32-bit semanticHash collision across DIFFERENT plans effectively
    impossible, and folding ``len(df.inputFiles())`` into the key means
    a re-read of the same path AFTER files were appended misses the
    cache instead of returning a stale count (inputFiles is a catalog
    listing, far cheaper than the RDD conversion; non-file plans
    contribute 0). Blast radius of any stale hit is a parallelism
    heuristic (fan_out), never correctness. Bounded to 4096 entries
    with true LRU eviction — the hot composition-loop entries survive
    when a scan-heavy session fills the cache."""
    try:
        n_files = len(df.inputFiles())
    except Exception:  # noqa: BLE001 — exotic plans without file sources
        n_files = -1
    key = (
        df.semanticHash(),
        hash(df.schema.simpleString()),
        n_files,
        df.sparkSession.sparkContext.defaultParallelism,
    )
    n = _PARTITION_COUNT_CACHE.get(key)
    if n is not None:
        _PARTITION_COUNT_CACHE.move_to_end(key)
        return n
    while len(_PARTITION_COUNT_CACHE) >= 4096:
        _PARTITION_COUNT_CACHE.popitem(last=False)
    n = df.rdd.getNumPartitions()
    _PARTITION_COUNT_CACHE[key] = n
    return n


def sql_round(v: float, nd: int) -> float:
    """Round half AWAY from zero — the SQL engines' ROUND convention
    (DuckDB/Spark scale-and-round), for DRIVER-SIDE releases that an
    oracle replays with SQL ROUND. Python's builtin ``round`` is
    half-EVEN: a value landing exactly on a half-way boundary (possible
    whenever the construction yields decimal-exact doubles — the x180
    lesson) would flip between engines."""
    import math

    scaled = abs(v) * (10 ** nd)
    return math.copysign(math.floor(scaled + 0.5), v) / (10 ** nd)
