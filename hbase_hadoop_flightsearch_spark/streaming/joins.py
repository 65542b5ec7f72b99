"""Stream-stream join (SURVEY.md §2b E14): funnel attribution —
view -> purchase by the same user within one hour.

Absent from the reference (no joins, no streaming; SURVEY.md §2a). This is
the canonical Structured Streaming stream-stream inner join: both inputs
are unbounded, so Spark buffers each side in the state store and the join
is only feasible because (a) an equality key (user_id) partitions state
and (b) the time-range predicate plus watermarks BOUND it — each view row
can stop waiting one hour after its event time passes the watermark, each
purchase row immediately after. Without the time bound, state would grow
with the full history of both streams.

The same builder serves batch (the registered, DuckDB-oracled query) and
true streaming (tests/test_streaming.py runs it through readStream with
watermarks on both sides and asserts batch/stream equivalence) — the
unified-engine property this package leans on everywhere.

Scale notes (100 TB/day): state per executor is O(events in the 1h+
watermark horizon for its user_id range), independent of stream lifetime;
the join itself shuffles both sides once on user_id. Attribution joins at
this shape are the standard ad-tech workload.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import register
from ..sources.catalog import load_table

ATTRIBUTION_WINDOW = "1 hour"


def _hour_bucket(ts) -> "F.Column":
    # floor, not a cast: a cast truncates toward zero, which folds the
    # hour on each side of the epoch into one two-hour bucket 0.
    return F.floor(F.unix_micros(ts) / F.lit(3_600_000_000))


def attribute_purchases(views: DataFrame, purchases: DataFrame) -> DataFrame:
    """Inner join: purchase strictly after the view, within 1 hour, same
    user. Works unchanged on batch or streaming inputs (streaming inputs
    must carry watermarks; the time bound is what lets Spark evict
    state).

    HOUR-BANDED since r16 (guide §2.5 hot keys — the flight connection
    search's banding pattern): the plain user_id equi-join compares every
    view against every purchase OF THAT USER across all time, and a hub
    entity (bot, monitoring account) makes that one key quadratic — the
    25x hub corpus's user 0 carries ~109k events and one SMJ task did
    ~4.8e8 residual comparisons (~30 s; AQE skew-split cannot divide a
    single key). Joining on (user_id, event-hour) with purchases
    replicated into their own and the previous hour bucket bounds each
    comparison group to two hours of one user's events. Pair-exact:
    purchase_ts in (view_ts, view_ts + 1h] forces
    floor_h(view_ts) in {floor_h(purchase_ts), floor_h(purchase_ts)-1},
    the view row carries exactly one bucket, and the purchase's two
    replicas land in distinct buckets — so every qualifying pair joins
    exactly once and no extra pair survives the unchanged residual
    time filter. The x2 purchase replication is the banding price (the
    hourband seat's documented trade)."""
    v = views.select(
        F.col("event_id").alias("view_event_id"),
        F.col("user_id"),
        F.col("ts").alias("view_ts"),
        _hour_bucket(F.col("ts")).alias("hb"),
    )
    p = purchases.select(
        F.col("event_id").alias("purchase_event_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.explode(
            F.array(
                _hour_bucket(F.col("ts")),
                _hour_bucket(F.col("ts")) - 1,
            )
        ).alias("p_hb"),
    )
    joined = v.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("hb") == F.col("p_hb"))
        & (F.col("purchase_ts") > F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr(f"interval {ATTRIBUTION_WINDOW}")
        ),
    )
    return joined.select(
        "view_event_id",
        "purchase_event_id",
        "user_id",
        (
            (F.unix_micros("purchase_ts") - F.unix_micros("view_ts"))
            / F.lit(1_000_000)
        )
        .cast("bigint")
        .alias("secs_to_purchase"),  # micros/1e6 floored — exact ints
    )


@register(
    "stream_join_view_purchase",
    oracle="""
SELECT a.event_id AS view_event_id,
  b.event_id AS purchase_event_id,
  a.user_id,
  epoch_us(b.ts - a.ts) // 1000000 AS secs_to_purchase
FROM events a
JOIN events b ON a.user_id = b.user_id
  AND a.event_type = 'view' AND b.event_type = 'purchase'
  AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
""",
    doc="Stream-stream join (E14), batch-equivalence form: view->purchase "
    "attribution within 1h per user. True readStream twin with watermarked "
    "state proven in tests/test_streaming.py.",
)
def stream_join_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return attribute_purchases(
        events.filter(F.col("event_type") == "view"),
        events.filter(F.col("event_type") == "purchase"),
    )


def attribute_views_outer(views: DataFrame, purchases: DataFrame) -> DataFrame:
    """LEFT OUTER stream-stream join: every view, attributed if a purchase
    followed within the window, NULL-extended otherwise. In streaming,
    the null-extended rows can only be emitted once the watermark proves
    no matching purchase can still arrive — the semantics that make outer
    stream joins fundamentally watermark-dependent (an inner join never
    has to prove a negative).

    Hour-banded like attribute_purchases (r16): the left side keeps
    exactly one bucket per view, so left-outer row preservation is
    untouched — an unmatched view null-extends once, a matched view
    joins each qualifying purchase exactly once (the purchase's two
    bucket replicas are distinct)."""
    v = views.select(
        F.col("event_id").alias("view_event_id"),
        F.col("user_id"),
        F.col("ts").alias("view_ts"),
        _hour_bucket(F.col("ts")).alias("hb"),
    )
    p = purchases.select(
        F.col("event_id").alias("purchase_event_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.explode(
            F.array(
                _hour_bucket(F.col("ts")),
                _hour_bucket(F.col("ts")) - 1,
            )
        ).alias("p_hb"),
    )
    joined = v.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("hb") == F.col("p_hb"))
        & (F.col("purchase_ts") > F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr(f"interval {ATTRIBUTION_WINDOW}")
        ),
        "left_outer",
    )
    return joined.select(
        "view_event_id",
        "user_id",
        "purchase_event_id",
        F.col("purchase_event_id").isNotNull().alias("converted"),
    )


@register(
    "stream_join_view_purchase_outer",
    oracle="""
SELECT a.event_id AS view_event_id,
  a.user_id,
  b.event_id AS purchase_event_id,
  b.event_id IS NOT NULL AS converted
FROM events a
LEFT JOIN events b ON a.user_id = b.user_id
  AND b.event_type = 'purchase'
  AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
WHERE a.event_type = 'view'
""",
    doc="LEFT OUTER stream-stream join (E14), batch-equivalence form: "
    "every view with its conversion status. The true readStream twin "
    "(watermarks both sides; null-extended rows emitted on watermark "
    "expiry) is proven equal to this in tests/test_streaming.py.",
)
def stream_join_view_purchase_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return attribute_views_outer(
        events.filter(F.col("event_type") == "view"),
        events.filter(F.col("event_type") == "purchase"),
    )


def enrich_with_segment(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-STATIC join + aggregate: events enriched with the customer's
    market segment (user_id is a customer FK in this schema), rolled up to
    (segment, event_type) counts and value totals. Unlike stream-stream,
    a stream-static join needs NO state store and no watermark: the
    static side is simply (re)broadcast into every microbatch — which is
    why dimension enrichment is the cheapest join a streaming pipeline
    can do, and why dims belong in a broadcastable table at 100 TB."""
    seg = customer.select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    return (
        events.select("user_id", "event_type", cents.alias("cents"))
        .join(F.broadcast(seg), "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            (F.sum("cents").cast("double") / 100).alias("total_value"),
        )
    )


@register(
    "stream_static_enrich",
    oracle="""
SELECT c_mktsegment, event_type,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100
    AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment, event_type
""",
    doc="Stream-static dimension enrichment (E14), batch-equivalence "
    "form: events joined to the broadcast customer-segment dim, rolled "
    "up per (segment, event_type). The true readStream twin (static side "
    "re-broadcast each microbatch, complete-mode aggregate) is proven "
    "equal to this batch plan in tests/test_streaming.py. Value sums "
    "ride the cents-integer path so both engines agree bit-exactly.",
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    return enrich_with_segment(
        load_table(spark, sf_dir, "events"),
        load_table(spark, sf_dir, "customer"),
    )
