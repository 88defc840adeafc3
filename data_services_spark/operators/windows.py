"""Window and time-window operators (all added surface — the reference
pipeline has no window operator anywhere; SURVEY §2.5/§2.9).

Batch forms here; streaming twins live in ``data_services_spark.streaming``.
Every helper emits epoch-millisecond BIGINT window boundaries rather than raw
timestamps so results compare bit-stably across engines and ns/us precisions.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from data_services_spark.functions.numeric import epoch_ms


def _ms(col: Column | str) -> Column:
    # Integral div (exact, DuckDB-truncation-identical); the cast re-tags
    # NTZ parquet timestamps as LTZ under the UTC session tz.
    return epoch_ms(col)


def top_k_per_group(df: DataFrame, partition_by: Sequence[str],
                    order_by: Sequence[Column], k: int,
                    rank_alias: str = "rn") -> DataFrame:
    """W1/W4: row_number top-k. `order_by` must be a total order (add a
    unique tiebreaker) or results are nondeterministic.

    Scale note: the window funnels each group through ONE task — fine
    for many small groups, wrong for a hot key (half the crawl under
    one domain). For small k over a totally-ordered scalar, use
    :func:`min_k_per_group_scalable` — the hot key never converges on
    a single task there."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (df.withColumn(rank_alias, F.row_number().over(w))
            .filter(F.col(rank_alias) <= k))


def min_k_per_group_scalable(df: DataFrame, group_col: str,
                             order_col: str, k: int,
                             check_unique: bool = False) -> DataFrame:
    """W4's SKEW-SAFE twin (round 10): keep the rows with the k
    SMALLEST ``order_col`` values per group — the per-domain document
    cap of a Gopher/FineWeb-class crawl pipeline (one spam domain must
    not dominate the corpus) — with NO group ever funneling through a
    single task.

    Two-pass partial-top-k decomposition (the running_sum_scalable
    philosophy applied to ranking):

    1. partial: ``groupBy(group, spark_partition_id())`` — every group
       here is partition-LOCAL, so the map-side state is bounded by a
       scan partition (~128 MB), whatever the group's global size —
       and each emits only its k smallest values
       (``slice(array_sort(collect_list), 1, k)``);
    2. final: the survivors (<= k x touched-partitions rows per group)
       re-group globally and the slice repeats. Pruning is lossless:
       any value in a group's global bottom-k is in its partition's
       bottom-k.
    3. a semi join keeps the original rows (all columns) whose
       (group, order) survived — exactly the window form's output,
       minus the rank column.

    The intermediate uses the physical partition id, but the RESULT is
    partition-layout-invariant (repartition-stability pytest-pinned).
    ``order_col`` values must be unique per group for a deterministic
    cap (doc ids; the window form has the same total-order contract).
    **If that contract is violated** the behaviors diverge (round-10
    advice, now explicit): the window twin still returns exactly k rows
    (row_number breaks ties arbitrarily) while THIS form returns MORE
    than k — the semi join keeps every row matching a surviving
    (group, order) pair. Pass ``check_unique=True`` to fail loudly
    instead: one extra count-vs-count-distinct aggregate over the
    2-column projection runs EAGERLY at construction (an intentional
    extra Spark job — keep it off in hot per-micro-batch loops and
    validate the key choice once).
    NULL handling (round-10 review): a NULL group IS a group — it caps
    at k like any other (the window twin's partitionBy semantics; the
    semi join below is null-safe on the group key). NULL ``order_col``
    values are EXCLUDED from the cap and from the output (collect_list
    skips them; the window twin would rank them first under its NULLS
    FIRST default — pass a non-null order column, per the total-order
    contract above).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    vals = df.select(F.col(group_col), F.col(order_col))
    if check_unique:
        # struct-wrap for the distinct: count(DISTINCT g, o) SKIPS rows
        # where either is NULL, but a NULL group IS a group here — the
        # struct is never NULL, so those rows stay counted on both sides
        chk = vals.where(F.col(order_col).isNotNull()).agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.struct(group_col, order_col))
            .alias("nd")).collect()[0]
        if chk["nd"] != chk["n"]:
            raise ValueError(
                f"min_k_per_group_scalable: {chk['n'] - chk['nd']} "
                f"duplicate ({group_col}, {order_col}) pair(s) — the "
                "semi join would return MORE than k rows for their "
                "groups; pick a per-group-unique order column (the "
                "documented total-order contract)")
    partial = (vals
               .groupBy(group_col, F.spark_partition_id().alias("__pid"))
               .agg(F.slice(F.array_sort(F.collect_list(order_col)),
                            1, k).alias("__top")))
    final = (partial
             .select(group_col, F.explode("__top").alias(order_col))
             .groupBy(group_col)
             .agg(F.slice(F.array_sort(F.collect_list(order_col)),
                          1, k).alias("__top")))
    keep = final.select(F.col(group_col).alias("__kg"),
                        F.explode("__top").alias("__ko"))
    return (df.join(keep,
                    df[group_col].eqNullSafe(F.col("__kg"))
                    & (df[order_col] == F.col("__ko")),
                    "left_semi"))


def sessionize(events: DataFrame, user_col: str = "user_id",
               ts_col: str = "ts", gap_minutes: int = 30) -> DataFrame:
    """T3 batch sessionization: gap-based session ids via lag + running sum.

    A session breaks when the gap since the previous event exceeds
    `gap_minutes`. Returns input rows + `session_id` (0-based per user).
    Equivalent to ``F.session_window`` grouping but keeps row granularity.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, "event_id")
    gap_ms = gap_minutes * 60 * 1000
    prev_ms = F.lag(_ms(ts_col)).over(w)
    new_session = (
        F.when(prev_ms.isNull(), F.lit(0))
        .when(_ms(ts_col) - prev_ms > gap_ms, F.lit(1))
        .otherwise(F.lit(0))
    )
    running = Window.partitionBy(user_col).orderBy(ts_col, "event_id") \
        .rowsBetween(Window.unboundedPreceding, 0)
    return (events
            .withColumn("__new", new_session)
            .withColumn("session_id", F.sum("__new").over(running).cast("long"))
            .drop("__new"))


def tumbling(events: DataFrame, ts_col: str, duration: str,
             group_cols: Sequence[str], *aggs: Column) -> DataFrame:
    """T1 tumbling window aggregate; emits `window_start_ms` BIGINT."""
    return (events
            .groupBy(F.window(ts_col, duration).alias("__w"), *group_cols)
            .agg(*aggs)
            .withColumn("window_start_ms", _ms(F.col("__w.start")))
            .drop("__w"))


def sliding(events: DataFrame, ts_col: str, duration: str, slide: str,
            group_cols: Sequence[str], *aggs: Column) -> DataFrame:
    """T2 sliding window aggregate; emits `window_start_ms` BIGINT."""
    return (events
            .groupBy(F.window(ts_col, duration, slide).alias("__w"), *group_cols)
            .agg(*aggs)
            .withColumn("window_start_ms", _ms(F.col("__w.start")))
            .drop("__w"))


def bucket_by_leading_key(df: DataFrame, key_col: str,
                          num_buckets: int) -> DataFrame:
    """Assign each row an order-consistent bucket id that is a PURE
    FUNCTION OF THE ROW'S DATA — `least(n-1, floor((k - min) / span * n))`
    over the leading order column, with min/max supplied by a one-row
    broadcast aggregate.

    Why not `spark_partition_id()` over a range exchange: a physical
    partition id is a property of the *plan instance*, not the data. When
    the same exchange feeds two consumers, correctness would hinge on
    Catalyst reusing one exchange AND both consumers seeing identical
    post-shuffle coalescing — and under AQE the two readers can receive
    different coalesced-shuffle specs (advisory-size/stats dependent), at
    which point ids diverge between branches and values silently corrupt
    (rows and schema intact — exactly the round-4 driver hash-mismatch
    signature). A data-derived bucket is identical in every branch of
    every plan under any session configuration, by construction.

    Guarantees: monotone non-decreasing in the key (casting a numeric to
    double is order-preserving, floor is monotone), so bucket i's rows
    all precede bucket i+1's in the total order; equal keys always share
    a bucket; NULL keys land in bucket 0 (Spark default NULLS FIRST).
    The spacing is linear between min and max — one tiny aggregate,
    ideal for roughly-uniform keys (dense ids, epochs); skewed
    distributions give uneven buckets (correctness unaffected). The
    bucket lands in column ``__bucket``.

    String/binary keys get a monotone numeric surrogate: the first 8
    bytes, zero-padded, read as an unsigned big-endian integer — exactly
    Spark's binary string comparison order on that prefix (shorter
    strings pad with 0x00, which sorts before every byte, matching
    prefix ordering). Keys sharing an 8-byte prefix collapse into one
    bucket — order-consistency is unaffected, only balance.
    """
    from pyspark.sql.types import (
        BinaryType, DateType, NumericType, StringType, TimestampType,
    )

    dt = df.schema[key_col].dataType
    if isinstance(dt, (StringType, BinaryType)):
        q = "`" + key_col.replace("`", "``") + "`"
        key = F.expr(
            f"cast(conv(hex(rpad(cast({q} as binary), 8, x'00')), 16, 10)"
            f" as double)")
    elif isinstance(dt, (NumericType, TimestampType, DateType)):
        # DateType casts to double as NULL; go through days-since-epoch.
        key = (F.unix_date(F.col(key_col)) if isinstance(dt, DateType)
               else F.col(key_col)).cast("double")
    else:
        raise ValueError(
            f"bucket_by_leading_key needs a numeric/timestamp/string "
            f"leading order column; {key_col} is {dt.simpleString()}.")
    stats = df.agg(F.min(key).alias("__kmin"), F.max(key).alias("__kmax"))
    span = F.col("__kmax") - F.col("__kmin")
    # NULL keys MUST branch explicitly to bucket 0 (Spark sorts them
    # first): letting a null frac flow into least() would send them to
    # the LAST bucket, because least/greatest SKIP nulls rather than
    # propagate them — least(n-1, NULL) = n-1, not NULL. That inverts
    # the null rows' position in the reassembled order and silently
    # corrupts every later row's offset (caught by the null-key test).
    frac = F.when(key.isNull() | ~(span > 0), F.lit(0.0)) \
        .otherwise((key - F.col("__kmin")) / span)
    bucket = F.least(F.lit(num_buckets - 1),
                     F.floor(frac * num_buckets)).cast("int")
    return (df.crossJoin(F.broadcast(stats))
            .withColumn("__bucket", bucket)
            .drop("__kmin", "__kmax"))


def scalable_running_sum(df: DataFrame, order_cols: Sequence[str],
                         value: Column | str, out: str,
                         num_partitions: int | None = None) -> DataFrame:
    """Global running sum WITHOUT a single-partition sort — the two-pass
    prefix-sum decomposition for the pattern `SUM(x) OVER (ORDER BY ...
    ROWS UNBOUNDED PRECEDING)` that otherwise funnels the whole table
    through one task (token packing, interval sweeps, batch numbering
    all hit it).

    Pass 1: assign every row an order-consistent bucket derived FROM THE
    DATA (:func:`bucket_by_leading_key` — never from physical partition
    ids, see its docstring for why), run the within-bucket prefix sum.
    Pass 2: per-bucket totals — one tiny row per bucket — cumulate on
    the bucket-count-sized frame and broadcast back as offsets. The big
    table is touched by exactly one hash shuffle (the bucket window) and
    one broadcast join; the only single-partition stage runs over
    `num_partitions` rows.

    `order_cols` must be a total order (tie-break explicitly), exactly
    as the single-window form requires for determinism; the LEADING
    order column may be numeric, timestamp, date, string, or binary
    (strings bucket by a monotone 8-byte-prefix surrogate — see
    :func:`bucket_by_leading_key`). Exact for integer/long values; for
    doubles feed a quantized column (functions/numeric.py) so partial
    sums are order-independent.
    """
    v = F.col(value) if isinstance(value, str) else value
    oc = [F.col(c) for c in order_cols]
    spark = df.sparkSession
    n = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "200"))
    d = bucket_by_leading_key(df, order_cols[0], n)
    w_in = (Window.partitionBy("__bucket").orderBy(*oc)
            .rowsBetween(Window.unboundedPreceding, 0))
    t = d.withColumn("__run", F.sum(v).over(w_in))
    w_off = (Window.orderBy("__bucket")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = (d.groupBy("__bucket").agg(F.sum(v).alias("__tot"))
               .withColumn("__off",
                           F.coalesce(F.sum("__tot").over(w_off),
                                      F.lit(0)))
               .select("__bucket", "__off"))
    return (t.join(F.broadcast(offsets), "__bucket")
            .withColumn(out, F.col("__run") + F.col("__off"))
            .drop("__bucket", "__run", "__off"))
