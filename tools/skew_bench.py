"""Measure skew mitigation (round-3 verdict ask #7): SCALE.md's salting
calculus was argued from first principles but unmeasured. This benchmarks a
deliberately hub-skewed fixture at sf0.1-equivalent volume (6M rows, one
key holding 10% of them — the `NCBITaxon:9606` shape) and times:

aggregation skew (AQE cannot split a skewed aggregation):
  - plain   : groupBy(key).agg(collect_list)   — hot key's whole group on
              one reducer; stage time = straggler task
  - salted  : operators/skew.salted_agg partial collect_list on
              (key, salt), flatten on key — hot group bounded at
              rows/n_salts per task

join skew (probe fact x non-broadcastable build):
  - plain, AQE skew-split OFF : sort-merge, hot partition straggles
  - plain, AQE skew-split ON  : the recommended path (session.py default)
  - salted_join, AQE OFF      : manual fallback when AQE is unavailable

Prints one JSON line with warm min-of-3 wall-clock per variant. Results are
recorded in SCALE.md (replacing the estimates) — run on a quiet box.

Usage: python tools/skew_bench.py [--rows 6000000] [--hot-share 0.10]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402


def _mk_session(tag: str, skew_join: bool, cores: int = 32,
                shuffle_partitions: int | None = None):
    from pyspark.sql import SparkSession
    b = (SparkSession.builder.master(f"local[{cores}]")
         .appName(f"skew-bench-{tag}")
         .config("spark.sql.shuffle.partitions",
                 str(shuffle_partitions or cores))
         .config("spark.driver.memory", "48g")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled",
                 "true" if skew_join else "false")
         # keep AQE from coalescing away the comparison's partitioning
         .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
         # build side must not broadcast: this is the large-large case
         .config("spark.sql.autoBroadcastJoinThreshold", "-1"))
    return b.getOrCreate()


def _fixture(spark, rows: int, hot_share: float):
    """Deterministic hub-skewed edge list: `hot_share` of rows carry key
    'HUB'; the rest spread over ~50k uniform keys. Value column is unique
    per row (worst case for partial aggregation: nothing collapses
    map-side)."""
    hot_every = int(round(1.0 / hot_share))
    df = (spark.range(rows)
          .withColumn(
              "subject",
              F.when(F.pmod("id", F.lit(hot_every)) == 0, F.lit("HUB"))
              .otherwise(F.concat(F.lit("k"),
                                  F.pmod(F.xxhash64("id"), F.lit(50000)))))
          .withColumn("object", F.col("id")))
    return df.select("subject", "object")


def _time(fn, n: int = 3) -> float:
    fn()  # warmup
    best = float("inf")
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def bench_agg(spark, rows: int, hot_share: float) -> dict:
    from data_services_spark.operators.skew import salted_agg
    edges = _fixture(spark, rows, hot_share)

    def plain():
        (edges.groupBy("subject")
         .agg(F.size(F.collect_list("object")).alias("n"))
         .agg(F.sum("n"), F.max("n")).collect())

    def salted():
        part = [F.collect_list("object").alias("__p")]
        comb = [F.size(F.flatten(F.collect_list("__p"))).alias("n")]
        (salted_agg(edges, ["subject"], part, comb, n_buckets=32,
                    salt_cols=["object"])
         .agg(F.sum("n"), F.max("n")).collect())

    return {"agg_plain": _time(plain), "agg_salted": _time(salted)}


def bench_join(spark, rows: int, hot_share: float, salted: bool) -> float:
    from data_services_spark.operators.skew import salted_join
    probe = _fixture(spark, rows, hot_share)
    build = (spark.range(50001)
             .select(F.concat(F.lit("k"), F.pmod(F.xxhash64("id"),
                                                 F.lit(50000)))
                     .alias("subject"),
                     (F.col("id") % 7).alias("rank"))
             .union(spark.range(1).select(F.lit("HUB").alias("subject"),
                                          F.lit(0).alias("rank")))
             .distinct())

    def run():
        if salted:
            out = salted_join(probe, build, "subject", n_buckets=16)
        else:
            out = probe.join(build, "subject")
        out.agg(F.count(F.lit(1)), F.sum("rank")).collect()

    return _time(run)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=6_000_000)
    ap.add_argument("--hot-share", type=float, default=0.10)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    a = ap.parse_args()

    res: dict[str, float] = {"rows": a.rows, "hot_share": a.hot_share,
                         "cores": a.cores,
                         "shuffle_partitions": a.shuffle_partitions
                         or a.cores}

    spark = _mk_session("noskewjoin", skew_join=False, cores=a.cores,
                        shuffle_partitions=a.shuffle_partitions)
    spark.sparkContext.setLogLevel("ERROR")
    res.update(bench_agg(spark, a.rows, a.hot_share))
    res["join_plain_aqe_off"] = bench_join(spark, a.rows, a.hot_share,
                                           salted=False)
    res["join_salted_aqe_off"] = bench_join(spark, a.rows, a.hot_share,
                                            salted=True)
    spark.stop()

    spark = _mk_session("skewjoin", skew_join=True, cores=a.cores,
                        shuffle_partitions=a.shuffle_partitions)
    spark.sparkContext.setLogLevel("ERROR")
    res["join_plain_aqe_skew_on"] = bench_join(spark, a.rows, a.hot_share,
                                               salted=False)
    spark.stop()

    print(json.dumps(res))


if __name__ == "__main__":
    main()
