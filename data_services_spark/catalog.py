"""Table catalog: load the driver-generated parquet tables with normalized
schemas.

All ten tables (region nation customer supplier part orders lineitem events
documents embeddings) load via ``spark.read.parquet`` so Catalyst gets full
pushdown/pruning. The single normalization: ``events.ts`` arrives as LongType
nanoseconds (see session._RUNTIME_CONFS) and is converted to a microsecond
TIMESTAMP with integer arithmetic (``DIV 1000`` — never a double round-trip,
which would corrupt epochs beyond 2^53 ns).

Loaded handles are reused through the driver-side memo
(plans/plan_memo.py), which skips the per-call file listing and parquet
footer/schema read (~100ms of driver I/O per load) and re-stats the
table's files on every hit: a table rewritten in place gets a fresh
scan, never the old handle's file index.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from data_services_spark.plans.plan_memo import memo_get, memo_put
from data_services_spark.session import configure_session

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table; returns a DataFrame with engine-normalized schema."""
    key = ("load_table", sf_dir, name)
    hit = memo_get(spark, key)
    if hit is not None:
        return hit
    configure_session(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # lossless ns -> us (data verified to carry no sub-us precision)
        df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    memo_put(spark, key, df, df.inputFiles())
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    names = names or TABLES
    return {n: load_table(spark, sf_dir, n) for n in names}
