"""Structured Streaming surface (SURVEY §2.9 T1-T5).

The reference is pure batch; this is the engine's added streaming veneer.
Design rule: every streaming transform has a batch twin in
``operators/windows.py`` producing identical results on the same data —
tests assert that equivalence (stream with availableNow trigger == batch).

At scale: file-source streams read new files incrementally; watermarks bound
state for window aggs and dedup; ``foreachBatch`` handles sinks Spark lacks
native streaming writers for.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from data_services_spark.session import configure_session

EVENTS_SCHEMA = ("event_id bigint, ts timestamp_ntz, user_id bigint, "
                 "event_type string, value double, props string")


def read_event_stream(spark: SparkSession, path: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over events parquet. The parquet `ts` is μs
    TIMESTAMP_NTZ; watermarks only accept LTZ TIMESTAMP, so cast — a
    wall-clock no-op under the pinned UTC session timezone."""
    configure_session(spark)
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path).withColumn(
        "ts", F.col("ts").cast("timestamp"))


def stream_tumbling_counts(events: DataFrame, duration: str = "1 hour",
                           watermark: str = "10 minutes") -> DataFrame:
    """T1+T4: watermarked tumbling-window counts per event type."""
    from data_services_spark.functions.numeric import dsum

    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", duration).alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 dsum("value", "sum_value"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n", "sum_value"))


def stream_session_counts(events: DataFrame, gap: str = "30 minutes",
                          watermark: str = "10 minutes") -> DataFrame:
    """T3 streaming: session windows per user."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("user_id", F.col("w.start").alias("session_start"),
                    "n_events"))


def stream_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """T5: stateful dedup by event id within the watermark horizon."""
    return (events
            .withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["event_id"]))


def stream_interval_join(views: DataFrame, purchases: DataFrame,
                         horizon: str = "1 hour",
                         watermark: str = "10 minutes") -> DataFrame:
    """T-family: watermarked stream-stream interval join — attribute each
    purchase to the same user's view within the preceding `horizon`
    (the classic streaming attribution join).

    Both sides carry watermarks plus a bounded time condition, so Spark
    can expire buffered rows: view-side state lives `horizon` +
    `watermark`, purchase-side `watermark` — without both bounds the
    state store grows forever. The batch twin is a plain range-condition
    join (operators/asof.py's range join family); tests assert
    stream == batch after draining."""
    v = (views.withWatermark("ts", watermark)
         .select(F.col("user_id").alias("v_user"),
                 F.col("event_id").alias("view_id"),
                 F.col("ts").alias("v_ts")))
    p = (purchases.withWatermark("ts", watermark)
         .select("user_id", F.col("event_id").alias("purchase_id"),
                 F.col("ts").alias("p_ts")))
    cond = ((F.col("v_user") == F.col("user_id"))
            & (F.col("v_ts") <= F.col("p_ts"))
            & (F.col("v_ts") >= F.col("p_ts") - F.expr(
                f"INTERVAL {horizon}")))
    return (p.join(v, cond)
            .select("user_id", "purchase_id", "view_id",
                    (F.unix_micros(F.col("p_ts").cast("timestamp"))
                     - F.unix_micros(F.col("v_ts").cast("timestamp")))
                    .cast("long").alias("gap_us")))


# Round 13 (guide §2.2, applied to streaming state): every STATEFUL
# operator keeps one state-store instance per shuffle partition per
# store (a stream-stream join keeps FOUR per partition), and each
# instance pays a fixed open/commit/delta-file cost per micro-batch
# regardless of how little state it holds. Sizing the stateful shuffle
# to the core count is therefore exactly backwards for small drains:
# the sf0.1 interval join carried 40k state rows across 128 instances,
# and the per-instance commits dominated the drain (measured 7.8 s at
# 32 partitions -> 3.3 s at 8 -> 2.6 s at 2, identical 342 rows).
# Production sizes state partitions to STATE VOLUME (100s of MB per
# partition), never to cores — so the device mirrors the widen guard's
# posture: derive the count from the source size when it is knowable
# (local landing dirs), cap at the session conf, and DO NOTHING when
# the size is unknown (object stores / real deployments, where the
# session conf is already sized to the workload).
STATE_TARGET_BYTES = 32 * 1024 * 1024


def sized_state_partitions(spark: SparkSession,
                           source_dir: str) -> int | None:
    """Stateful-shuffle partition count sized to the local source dir:
    ceil(bytes / STATE_TARGET_BYTES [32 MiB]), floored at 4 and capped
    at the session's shuffle-partition conf. Returns None — caller
    leaves the session conf alone — when the directory is not locally
    stat-able (real deployments size the session conf to the workload
    instead)."""
    import math

    # Round 14 (r13 ADVICE): recursive data-file walk — the flat
    # listdir counted nested partition subdirs as their ~4 KB inode
    # size, undercounting Spark-written landing dirs.
    from data_services_spark.plans.widen import dir_data_file_sizes
    sizes = dir_data_file_sizes(source_dir)
    if sizes is None:
        return None
    total = sum(sizes)
    try:
        cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):  # "auto" on managed platforms
        cap = spark.sparkContext.defaultParallelism
    # Floor of 4 (still capped by the session conf): a handful of
    # instances' fixed commit cost is noise, while 1-partition drains
    # serialize compute-heavy operators (measured sf0.1: session
    # windows 3.3 s at 1 partition, 1.6 s at 4; interval join flat
    # 2.6-2.7 s across 1-4, 4.4 s at 8, 7.8 s at 32).
    return min(cap, max(4, math.ceil(total / STATE_TARGET_BYTES)))


def run_to_memory_sink(stream: DataFrame, name: str,
                       output_mode: str = "append",
                       state_partitions: int | None = None) -> DataFrame:
    """Drain a stream with the availableNow trigger into an in-memory table
    and return it as a batch DataFrame (test/bench harness).

    ``state_partitions`` (normally from :func:`sized_state_partitions`)
    pins ``spark.sql.shuffle.partitions`` for the duration of the drain
    — the value a stateful query captures into its checkpoint at start
    — and restores the session conf afterwards. Partition count changes
    only state-store instance count and task parallelism, never values
    (each drain starts a fresh checkpoint, so no stored state can
    disagree with the count). Not safe against CONCURRENT drains on one
    session (the conf is session-global); the harnesses drain
    sequentially."""
    spark = stream.sparkSession
    conf_key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(conf_key) if state_partitions else None
    try:
        if state_partitions:
            spark.conf.set(conf_key, str(state_partitions))
        q = (stream.writeStream.format("memory").queryName(name)
             .outputMode(output_mode)
             .trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        if old is not None:
            spark.conf.set(conf_key, old)
    return spark.table(name)


def stream_static_enrich(stream: DataFrame, dim: DataFrame,
                         on) -> DataFrame:
    """T-family stream-static join: enrich a stream against a batch
    dimension. Stateless — no watermark, no state store; Spark re-plans
    the static side per micro-batch (so a slowly-refreshed dim table is
    picked up on re-read) and broadcasts it under AQE exactly as in the
    batch twin. Append output mode; every input row emits at most once."""
    return stream.join(F.broadcast(dim), on)
