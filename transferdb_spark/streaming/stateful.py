"""Custom stateful streaming operator — applyInPandasWithState.

The reference has no user-extensible stateful operators (its only state
is the SCN checkpoint). This is the Spark-native extension point for
them: arbitrary per-key state evolved across micro-batches with
exactly-once semantics from the streaming checkpoint.

Operators: (1) streaming exact dedup — first-seen-wins survivor
emission keyed by content hash, the streaming twin of
ext/dedup.dedup_exact, with an optional processing-time TTL bounding
state to the active window; (2) streaming event transitions and
(3) streaming funnel progress, the real-time twins of the batch
transition matrix and funnel. At scale, state is partitioned by key
across executors and bounded by the key count (plus timeouts for
eviction).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from transferdb_spark.streaming.incr import run_available, stream_events

DEDUP_STATE_SCHEMA = "first_id LONG, n_dups LONG"
DEDUP_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def _make_dedup_fn(ttl_ms: int | None):
    def _dedup_first_seen(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # eviction tick: no rows for this hash within the TTL —
            # forget it (a later duplicate re-emits; the TTL is the
            # documented dedup horizon)
            state.remove()
            return
        rows = pd.concat(list(pdfs), ignore_index=True)
        if state.exists:
            first_id, n_dups = state.get
            state.update((first_id, n_dups + len(rows)))
        else:
            # first sighting of this content hash: min doc_id wins the
            # tie so the survivor is deterministic within the batch too
            w = rows.loc[rows["doc_id"].idxmin()]
            state.update((int(w["doc_id"]), len(rows) - 1))
            yield pd.DataFrame({"doc_id": [int(w["doc_id"])], "text": [w["text"]]})
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)

    return _dedup_first_seen


def streaming_dedup(
    stream: DataFrame, text_col: str = "text", ttl_ms: int | None = None
) -> DataFrame:
    """Exact dedup over a document STREAM — first-seen-wins across
    micro-batches (the streaming twin of ext/dedup.dedup_exact).

    State is one (first_id, n_dups) pair per distinct content hash,
    partitioned by hash across executors; the emitted stream is the
    survivor corpus in append mode. At 100 TB the state size is
    bounded by distinct-content count × 16 bytes, and exactly-once
    replay comes from the streaming checkpoint (a replayed batch
    re-yields the same survivors, which the idempotent sink dedups by
    batch id — same stance as streaming/incr.py's MERGE landing).

    ttl_ms bounds state for UNBOUNDED streams: a hash idle longer than
    the TTL is evicted (processing-time timeout), trading perfect
    history for O(active window) state — the dedup horizon every
    infinite-crawl pipeline eventually has to pick.

    The survivor column is always emitted as `text` regardless of
    text_col (the state function and output schema are fixed); the
    input column is aliased on the way in."""
    hashed = stream.withColumn("__h", F.xxhash64(F.col(text_col)))
    return (
        hashed.select(
            "__h",
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col(text_col).alias("text"),
        )
        .groupBy("__h")
        .applyInPandasWithState(
            _make_dedup_fn(ttl_ms),
            outputStructType=DEDUP_OUTPUT_SCHEMA,
            stateStructType=DEDUP_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if ttl_ms is not None
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def run_dedup_to_memory(
    spark,
    source_dir: str,
    checkpoint_dir: str,
    name: str = "dedup_stream",
    max_files_per_trigger: int | None = None,
):
    """Documents parquet dir → streaming dedup → in-memory survivor
    table (availableNow drains the backlog then stops).

    State store: RocksDB. The dedup operator keeps one entry per
    DISTINCT content hash — the highest-cardinality state in the
    engine (state size tracks corpus cardinality, not window width) —
    which is exactly the profile RocksDB serves better than the
    default HDFS-backed map (no full in-heap map copy per commit; at
    real scale the state won't fit a JVM map at all). The provider is
    pinned at first start via the session conf (the documented
    mechanism) and restored after; the tiny-state operators (windowed
    rollup, interval join) measurably prefer the default map store at
    bench scale and keep it. A/B (round 10, alternating cycles ×2
    sessions): dedup median 2.94→2.53 s and 3.22→2.52 s, best
    2.31→2.09 / 2.30→1.94; join and rollup regressed under RocksDB,
    so the choice is per-operator, not global."""
    stream = stream_events(spark, source_dir, max_files_per_trigger=max_files_per_trigger)
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    old_prov = spark.conf.get(prov_key, None)
    spark.conf.set(prov_key, _ROCKSDB_PROVIDER)
    try:
        return run_available(streaming_dedup(stream), checkpoint_dir, name)
    finally:
        if old_prov is None:
            spark.conf.unset(prov_key)
        else:
            spark.conf.set(prov_key, old_prov)


# ---------------------------------------------------------------------------
# streaming event transitions — the real-time twin of the batch
# event_transitions Markov matrix. State per user is ONE (last_ms,
# last_type) pair; each micro-batch emits that batch's (src, dst)
# transition increments (append mode — the consumer sums them, so the
# running totals match the batch lead-window counts when batches
# arrive in event-time order; cross-batch out-of-order arrivals are
# credited in arrival order, the usual streaming-vs-batch caveat).

TRANS_STATE_SCHEMA = "last_ms LONG, last_type STRING"
TRANS_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("src", T.StringType()),
        T.StructField("dst", T.StringType()),
        T.StructField("n", T.LongType()),
    ]
)


def _make_transitions_fn(ttl_ms: int | None):
    def _update_transitions(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # idle-user eviction: one lost transition edge across the
            # eviction gap is the documented cost of bounded state
            state.remove()
            return
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values(
            ["ts_ms", "event_id"]
        )
        last = state.get if state.exists else None
        counts: dict[tuple[str, str], int] = {}
        for t, eid, etype in zip(rows["ts_ms"], rows["event_id"], rows["event_type"]):
            if last is not None:
                k = (last[1], etype)
                counts[k] = counts.get(k, 0) + 1
            last = (int(t), etype)
        state.update(tuple(last))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if counts:
            yield pd.DataFrame(
                [(s, d, n) for (s, d), n in counts.items()],
                columns=["src", "dst", "n"],
            )

    return _update_transitions


def streaming_transitions(
    stream: DataFrame,
    ttl_ms: int | None = None,
    event_types: list[str] | None = None,
) -> DataFrame:
    """Per-batch (src, dst, n) transition increments as an append
    stream; SUM over the sink gives the live Markov matrix. ``stream``
    comes from incr.stream_events, which reads ``ts`` as TIMESTAMP.

    event_types is the saved-workload whitelist (the batch
    transition_matrix's parameter relation, passed as a list here):
    events outside it are dropped BEFORE the stateful chain, so the
    journey re-links across them — identical projection semantics to
    the batch operator, preserved across micro-batch boundaries
    because the filter runs upstream of the per-user state.

    ttl_ms bounds state on UNBOUNDED streams (same knob as
    streaming_dedup): a user idle longer than the TTL is evicted
    (processing-time timeout), so state is O(active users in the
    window) instead of O(all users ever seen). The first event after
    eviction opens a fresh chain — the transition spanning the idle
    gap is not counted, which is usually the analytically right call
    anyway (cf. the batch sessionization gap)."""
    if event_types is not None:
        stream = stream.where(F.col("event_type").isin(list(event_types)))
    return (
        stream.select(
            "user_id",
            F.unix_millis("ts").alias("ts_ms"),
            F.col("event_id").cast("long").alias("event_id"),
            "event_type",
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_transitions_fn(ttl_ms),
            outputStructType=TRANS_OUTPUT_SCHEMA,
            stateStructType=TRANS_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if ttl_ms is not None
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


# ---------------------------------------------------------------------------
# streaming funnel — the real-time twin of the batch parameterized
# funnel (operators/funnel.py). Per-user state is the first-touch
# progress vector (t1..tk so far + a terminal flag); processing events
# in per-user event-time order makes the greedy forward state machine
# compute EXACTLY the batch chain (step i = earliest step-i event
# at-or-after t_{i-1}): the first qualifying event seen in time order
# IS the minimum. Each step completion emits one (step, n=1) increment
# — the summed sink equals the batch n_users per step. The final step
# honors the within_s bound against t1; a user whose first qualifying
# final event falls outside the bound is terminally failed (the batch
# min-aggregation can never admit a later, even-farther event either).

FUNNEL_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("step", T.IntegerType()),
        T.StructField("n", T.LongType()),
    ]
)


def _make_funnel_fn(
    steps: list[str],
    within_ms: int | None,
    ttl_ms: int | None = None,
    drop_terminal: bool = False,
):
    n_steps = len(steps)

    def _funnel(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values(
            ["ts_ms", "event_id"]
        )
        if state.exists:
            st = state.get
            progress, dead = int(st[0]), bool(st[1])
            times = list(st[2])
        else:
            progress, dead, times = 0, False, []
        emitted: list[int] = []
        for t, etype in zip(rows["ts_ms"], rows["event_type"]):
            if dead or progress >= n_steps:
                break
            t = int(t)
            if etype != steps[progress]:
                continue
            if progress > 0 and t < times[-1]:
                continue  # before the previous step's first touch
            if progress == n_steps - 1 and within_ms is not None:
                if t - times[0] > within_ms:
                    # first qualifying final event is out of bound —
                    # no later event can be earlier: terminal fail
                    dead = True
                    continue
            times.append(t)
            progress += 1
            emitted.append(progress)
        if drop_terminal and (dead or progress >= n_steps):
            # a terminal user (failed the bound, or completed every
            # step) can never emit again — its state is pure ballast;
            # drop it. A later event from the SAME user would open a
            # fresh funnel attempt, so enable this only where
            # per-horizon (not per-lifetime) funnel accounting is
            # acceptable — the price of bounded state on an unbounded
            # stream.
            state.remove()
        else:
            state.update((progress, dead, times))
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
        if emitted:
            yield pd.DataFrame({"step": emitted, "n": [1] * len(emitted)})

    return _funnel


def streaming_funnel(
    stream: DataFrame,
    steps: list[str] | None = None,
    within_s: int | None = None,
    ttl_ms: int | None = None,
    drop_terminal: bool = False,
) -> DataFrame:
    """Per-batch (step, n) completion increments as an append stream;
    SUM over the sink gives the live funnel counts. Defaults to the
    batch funnel's saved workload. ``stream`` comes from
    incr.stream_events, which reads ``ts`` as TIMESTAMP.

    State-growth knobs for unbounded streams (both off by default so
    the batch-equivalence contract holds exactly):
    - ttl_ms: evict users idle longer than the TTL (processing-time
      timeout, same knob as streaming_dedup/streaming_transitions).
    - drop_terminal: remove state the moment a user is terminal (dead
      or completed) — it can never emit again, so on long-running
      streams this caps state at ACTIVE in-funnel users."""
    from transferdb_spark.operators.funnel import DEFAULT_STEPS, DEFAULT_WITHIN_S

    if steps is None:
        steps = DEFAULT_STEPS
        within_s = DEFAULT_WITHIN_S if within_s is None else within_s
    state_schema = "progress INT, dead BOOLEAN, times ARRAY<LONG>"
    return (
        stream.select(
            "user_id",
            F.unix_millis("ts").alias("ts_ms"),
            F.col("event_id").cast("long").alias("event_id"),
            "event_type",
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_funnel_fn(
                list(steps),
                None if within_s is None else int(within_s * 1000),
                ttl_ms=ttl_ms,
                drop_terminal=drop_terminal,
            ),
            outputStructType=FUNNEL_OUTPUT_SCHEMA,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if ttl_ms is not None
                else GroupStateTimeout.NoTimeout
            ),
        )
    )
