"""Custom stateful streaming — the k-anonymity release gate.

Beyond the windowed aggregate (X6), a privacy release over an unbounded
stream needs CUMULATIVE suppression: a group key may only ever be
published once its all-time member count reaches k — independent of how
the rows were spread over micro-batches. That cumulative count is
per-key mutable state → ``applyInPandasWithState`` (Arrow-batched,
update-mode), the sanctioned Structured Streaming API for custom
stateful operators.

State design for scale: state per key is ONE long (the running count) —
no row buffering, so state size is O(distinct keys) and does not grow
with stream length. A production deployment adds a state TTL
(``GroupStateTimeout.ProcessingTimeTimeout``) to retire dead keys; the
gate's semantics make eviction safe (an evicted key restarts counting —
conservative, never under-k).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "event_type string, cnt long"
STATE_SCHEMA = "cnt long"


def kanon_gate_stateful(events: DataFrame, k: int = 5) -> DataFrame:
    """Per-key cumulative count gate over a *streaming* DataFrame: emits
    ``(event_type, cnt)`` in update mode only when the all-time count has
    reached k. Groups that never reach k are never published."""

    def gate(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        if total >= k:
            yield pd.DataFrame({"event_type": [key[0]], "cnt": [total]})

    return events.groupBy("event_type").applyInPandasWithState(
        gate,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def kanon_gate_batch(events: DataFrame, k: int = 5) -> DataFrame:
    """Batch twin: after the whole file is one 'stream', the gate's final
    update per key equals the plain threshold count — the equivalence the
    streaming test asserts."""
    from pyspark.sql import functions as F

    return (
        events.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= F.lit(k))
    )


MG_OUTPUT_SCHEMA = "event_type string, item long, count_lb long, n_seen long"
MG_STATE_SCHEMA = "items array<long>, counts array<long>, n_seen long"


def heavy_hitters_stateful(
    events: DataFrame,
    k: int = 8,
    group_col: str = "event_type",
    item_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming Misra–Gries heavy hitters per group — the unbounded-
    stream flavor of the batch sketch (``operators/sketch.py``): per
    group the state is at most ``k`` (item, count) counters plus the
    stream length, so memory is O(groups · k) forever. The classic MG
    guarantee survives batching verbatim (with ``k`` counters, count_lb
    underestimates a true count by at most n_seen/(k+1) — the tight
    bound; every item with true frequency > n_seen/(k+1) is therefore
    tracked), because MG folds compose: applying the update rule
    row-by-row across micro-batches IS the sequential algorithm.

    Rows are applied in event-time order WITHIN each micro-batch (a
    disclosed discipline): all Arrow chunks for
    the group are concatenated FIRST and sorted once (stable mergesort,
    item as tiebreak), so groups larger than one Arrow batch still fold
    in batch-wide event-time order. The equivalence test replays one
    batch and compares against a sequential reference fold. Emits the
    group's current tracked set each time it changes (update mode).
    """

    def fold(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            items, counts, n_seen = state.get
            sketch = dict(zip(items, counts))
        else:
            sketch, n_seen = {}, 0
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            batch = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
            ordered = batch.sort_values([ts_col, item_col], kind="mergesort")
            for item in ordered[item_col]:
                item = int(item)
                n_seen += 1
                if item in sketch:
                    sketch[item] += 1
                elif len(sketch) < k:
                    sketch[item] = 1
                else:
                    # decrement-all; drop zeros (the MG eviction step)
                    sketch = {i: c - 1 for i, c in sketch.items() if c > 1}
        items = sorted(sketch)
        state.update(([int(i) for i in items], [int(sketch[i]) for i in items], int(n_seen)))
        yield pd.DataFrame(
            {
                "event_type": [key[0]] * len(items),
                "item": items,
                "count_lb": [sketch[i] for i in items],
                "n_seen": [n_seen] * len(items),
            }
        )

    return events.groupBy(group_col).applyInPandasWithState(
        fold,
        outputStructType=MG_OUTPUT_SCHEMA,
        stateStructType=MG_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
