"""Stream-stream interval join — last-mile attribution.

The one Structured Streaming join shape the engine did not yet
exercise: TWO unbounded sides joined on a key plus an EVENT-TIME
interval, each side watermarked so the state store can evict rows
that can no longer match (Spark buffers both sides; without the
time-range condition + watermarks the state would grow forever —
the constraint is what makes the join feasible on unbounded input).

Semantics here are click→purchase attribution: every (click,
purchase) pair for the same user where the click happened in the
``within_s`` seconds before the purchase. The BATCH twin
(attribution_pairs) is the oracle-checked definition; the streaming
form must converge to it for event-time-ordered arrivals, which the
batch-equivalence test pins across a micro-batch boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ATTRIB_SRC = "click"
ATTRIB_DST = "purchase"
ATTRIB_WITHIN_S = 3600


def attribution_pairs(
    ev: DataFrame,
    src_type: str = ATTRIB_SRC,
    dst_type: str = ATTRIB_DST,
    within_s: int = ATTRIB_WITHIN_S,
) -> DataFrame:
    """Batch twin: all (user_id, src_ts, dst_ts) pairs where a
    src-type event precedes a dst-type event by at most within_s
    seconds (strictly before or simultaneous — ts_src <= ts_dst).

    Hot-user bound: joining on user_id alone makes the candidate set
    quadratic in per-user event density — a bot with 10⁵ clicks and
    10⁵ purchases builds 10¹⁰ candidates before the time predicate
    runs, and AQE skew-splitting redistributes but cannot shrink that.
    So both sides are pre-bucketed by floor(epoch(ts)/within_s) and
    joined on (user_id, bucket): a src event in bucket b can only
    match dst events in buckets {b, b+1} (dst_ts − src_ts ∈
    [0, within_s] pins floor(dst/W) to floor(src/W) or +1), so the
    src side is exploded to those two bucket keys. Each true pair
    matches on exactly ONE (user, bucket) key — the dst bucket is a
    single value — so no dedup pass is needed and the OUTPUT is
    byte-identical to the plain user_id join (the oracle SQL is
    unchanged). Candidates per key are now bounded by events within
    ±1 window instead of the user's lifetime history; only pairs the
    semantics actually demand survive past the join."""
    bucket = F.floor(F.col("ts").cast("double") / F.lit(float(within_s)))
    clicks = (
        ev.where(F.col("event_type") == src_type)
        .select(
            "user_id",
            F.col("ts").alias("src_ts"),
            F.col("event_id").alias("src_event_id"),
            F.explode(F.array(bucket, bucket + F.lit(1))).alias("bucket"),
        )
    )
    buys = ev.where(F.col("event_type") == dst_type).select(
        "user_id",
        F.col("ts").alias("dst_ts"),
        F.col("event_id").alias("dst_event_id"),
        bucket.alias("bucket"),
    )
    return (
        clicks.join(buys, ["user_id", "bucket"])
        .where(
            (F.col("src_ts") <= F.col("dst_ts"))
            & (
                F.col("dst_ts").cast("double") - F.col("src_ts").cast("double")
                <= F.lit(float(within_s))
            )
        )
        .select(
            "user_id",
            "src_event_id",
            "dst_event_id",
            F.col("src_ts").alias("src_ts"),
            F.col("dst_ts").alias("dst_ts"),
        )
        .orderBy("user_id", "src_event_id", "dst_event_id")
    )


def attribution_pairs_sql(
    src_type: str = ATTRIB_SRC,
    dst_type: str = ATTRIB_DST,
    within_s: int = ATTRIB_WITHIN_S,
) -> str:
    return f"""
SELECT c.user_id,
       c.event_id AS src_event_id,
       p.event_id AS dst_event_id,
       c.ts AS src_ts,
       p.ts AS dst_ts
FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = '{src_type}') c
JOIN (SELECT user_id AS p_user, ts, event_id FROM events WHERE event_type = '{dst_type}') p
  ON c.user_id = p.p_user
WHERE c.ts <= p.ts
  AND epoch(p.ts) - epoch(c.ts) <= {float(within_s)}
ORDER BY user_id, src_event_id, dst_event_id
"""


def streaming_attribution_join(
    stream: DataFrame,
    src_type: str = ATTRIB_SRC,
    dst_type: str = ATTRIB_DST,
    within_s: int = ATTRIB_WITHIN_S,
    watermark_s: int = 2 * ATTRIB_WITHIN_S,
) -> DataFrame:
    """Stream-stream inner join with an event-time interval — the
    one-source form: both sides are filtered out of a single event
    stream (Spark still treats them as two independent stateful
    sides). Delegates to streaming/incr.attribution_join_stream (the
    two-feed form this engine has shipped since round 3); what this
    wrapper adds is the generic (src_type, dst_type) parameterization,
    a 2x-window lateness allowance, and — via attribution_pairs above
    — an ORACLE-CHECKED batch definition the stream must converge to.
    Output columns match the batch twin. ``stream`` comes from
    incr.stream_events, which already reads ``ts`` as TIMESTAMP (the
    type watermarks need)."""
    from transferdb_spark.streaming.incr import attribution_join_stream

    if "value" not in stream.columns:
        stream = stream.withColumn("value", F.lit(None).cast("double"))
    joined = attribution_join_stream(
        stream.where(F.col("event_type") == src_type),
        stream.where(F.col("event_type") == dst_type),
        within=f"{within_s} seconds",
        watermark=f"{watermark_s} seconds",
    )
    return joined.select(
        "user_id",
        F.col("click_id").alias("src_event_id"),
        F.col("purchase_id").alias("dst_event_id"),
        F.col("click_ts").alias("src_ts"),
        F.col("purchase_ts").alias("dst_ts"),
    )
