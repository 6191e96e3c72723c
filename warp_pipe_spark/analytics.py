"""Event-time analytics over the `events` stream table — the windowed
surface the reference lacks (SURVEY.md §2.8 marks watermarks/windows
"absent") but Structured Streaming gives natively; exposed as batch
queries (oracle-checkable), and attribution_join and the sketch
registers run unchanged on a stream.

Scale: tumbling windows are a keyed aggregation (partial agg map-side);
sessionization is one shuffle keyed by user with an in-partition scan —
the canonical shapes that hold at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def hourly_rollup(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour counts/sums per event_type.

    Output: (event_type, hour_ms, n_events, sum_value_cents)."""
    return (
        events.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count("*").alias("n_events"),
            # per-row cents → BIGINT sum: fold-order independent, unlike
            # round(sum(double)*100) which can flip a cent when partition
            # fold order differs across engines/runs.
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias(
                "sum_value_cents"
            ),
        )
        .select(
            "event_type",
            F.unix_millis(F.col("w.start")).alias("hour_ms"),
            "n_events",
            "sum_value_cents",
        )
    )


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization per user: a new session starts when the
    time since the previous event exceeds the gap.

    Output: (user_id, session_seq, n_events, start_ms, end_ms).
    One shuffle keyed by user_id; the lag/cumsum runs inside each
    partition."""
    w = Window.partitionBy("user_id").orderBy("ts")
    gap_ms = gap_minutes * 60 * 1000
    with_breaks = events.withColumn(
        "_new_session",
        F.when(
            F.unix_millis("ts") - F.unix_millis(F.lag("ts").over(w)) > gap_ms,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long"),
    ).withColumn(
        "session_seq",
        F.sum("_new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        with_breaks.groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            F.min(F.unix_millis("ts")).alias("start_ms"),
            F.max(F.unix_millis("ts")).alias("end_ms"),
        )
    )


def attribution_join(
    clicks: DataFrame,
    purchases: DataFrame,
    within_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked INTERVAL stream-stream join — click→purchase
    attribution: every (click, purchase) pair for the same user where
    the purchase lands within `within_minutes` after the click.

    On streaming inputs both sides are watermarked and the join
    condition carries the time bound, so Structured Streaming can
    EVICT join state: a click older than watermark + interval can
    never match a future purchase and is dropped — state is bounded by
    (event rate × horizon), not by stream length, which is the
    difference between a join that survives a month of uptime at
    100 TB/day and one that OOMs. On batch inputs the same function is
    the exact twin (withWatermark is a no-op in batch), which is how
    the streaming result is verified.

    Returns (user_id, click_id, purchase_id, click_ts, purchase_ts,
    lag_ms)."""
    c = clicks.withWatermark("ts", watermark).select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    joined = c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {within_minutes} MINUTES")
        ),
    )
    return joined.select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        (
            F.unix_millis("purchase_ts") - F.unix_millis("click_ts")
        ).alias("lag_ms"),
    )


def hll_registers(df: DataFrame, value_col: str = "user_id", p: int = 6) -> DataFrame:
    """HyperLogLog sketch registers over `value_col` (2^p buckets):
    bucket = top p bits of the 60-bit hash, register = max rho of the
    remaining bits. Pure narrow ops + one max agg — the SAME plan runs
    on a batch OR a streaming DataFrame (registers merge by max, so
    Structured Streaming's incremental agg state IS the sketch; drain
    with outputMode complete/update). Returns (bucket, register)."""
    from warp_pipe_spark.datapipe.text import h60

    low_bits = 60 - p
    mask = (1 << low_bits) - 1
    rho = F.when(F.expr(f"(h & {mask})") == 0, F.lit(low_bits + 1)).otherwise(
        F.lit(low_bits + 1) - F.length(F.expr(f"bin(h & {mask})"))
    )
    return (
        df.select(h60(F.col(value_col).cast("string")).alias("h"))
        .select(
            F.shiftright("h", low_bits).cast("long").alias("bucket"),
            rho.cast("long").alias("rho"),
        )
        .groupBy("bucket")
        .agg(F.max("rho").alias("register"))
    )


def cms_registers(
    df: DataFrame, key_col: str = "event_type", depth: int = 4, width: int = 64
) -> DataFrame:
    """Count-Min sketch counters over `key_col` (depth × width): one
    salt-explode + one count agg, merge by ADD — like hll_registers,
    batch/streaming-agnostic (streaming agg state accumulates the
    counters incrementally). Returns (d, j, counter)."""
    from warp_pipe_spark.datapipe.text import h60

    salted = df.select(
        key_col, F.explode(F.array(*[F.lit(d) for d in range(depth)])).alias("d")
    )
    col_j = F.pmod(
        h60(F.concat(F.col("d").cast("string"), F.lit("|"), F.col(key_col))),
        F.lit(width),
    )
    return (
        salted.select(
            F.col("d").cast("long").alias("d"), col_j.cast("long").alias("j")
        )
        .groupBy("d", "j")
        .agg(F.count("*").alias("counter"))
    )
