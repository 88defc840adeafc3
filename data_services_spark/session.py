"""SparkSession factory and session-level configuration.

Two entry paths:
- our own code / tests / bench call :func:`get_spark` (builds a local session);
- the driver harness hands us an already-built session, so every query first
  routes through :func:`configure_session` to apply the *runtime-settable*
  confs we depend on (ns-parquet reading, UTC timezone, Arrow).

Scale posture: all knobs here are the ones that matter on a real cluster
(AQE + skew-join handling, shuffle partition count, Arrow batching); nothing
assumes local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs required for correctness on the test tables and for
# sane Python-boundary performance. Applied defensively to any session we are
# handed (driver-owned sessions included).
_RUNTIME_CONFS = {
    # events.parquet carries TIMESTAMP(NANOS) which Spark's parquet reader
    # rejects outright; with this flag it surfaces as LongType ns-since-epoch
    # and catalog.load_table converts losslessly to a microsecond timestamp
    # (the data has no sub-microsecond precision — verified).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic wall-clock semantics vs the DuckDB oracle (naive UTC).
    "spark.sql.session.timeZone": "UTC",
    # Arrow for any pandas boundary (similarity / multimodal operators).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Larger Arrow batches amortize per-batch IPC overhead on wide fetches
    # (600k-row merge results); still far below executor memory at scale.
    # 262144 measured ~8% faster than 65536 and ~10% faster than 1048576
    # on the 600k-row kgx_edge_merge fetch (sweep 2026-08-13).
    "spark.sql.execution.arrow.maxRecordsPerBatch": "262144",
    # Arrow-optimized Python UDTF evaluation (D5 surface).
    "spark.sql.execution.pythonUDTF.arrow.enabled": "true",
    # Parquet vectorized-reader batch rows: 4x the 4096 default. Measured
    # at the sf1 bench: q1 scan-agg 0.46->0.32s, tumbling 0.51->0.35s —
    # larger column batches amortize per-batch reader overhead; 65536 is
    # marginally faster still on narrow scans but costs batch x row-width
    # heap per open reader (risky on wide text schemas).
    "spark.sql.parquet.columnarReaderBatchSize": "16384",
    # Scale posture on ANY session, driver-owned included: these are all
    # runtime-settable SQL confs, so apply them defensively rather than
    # only at build time.
    # ObjectHashAggregate (collect_list/min_by merges) falls back to
    # sort-based aggregation after 128 distinct keys per partition by
    # default — the KGX merges group ~600k near-unique keys, so every
    # partition paid hash setup THEN a full sort fallback (measured
    # 3.2s -> 2.7s on kgx_edge_merge with the raised threshold). 2M keys
    # x ~200B buffer ≈ 400MB/task worst case; at cluster scale partition
    # sizing (maxPartitionBytes / shuffle partitions) bounds per-task
    # group counts long before this limit.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": "2000000",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}

# Broadcast-join threshold (planner static estimate AND AQE runtime
# re-plan) — env-overridable because the right value is workload-shaped.
# Default 16MB: the round-4 sf1 bench caught the old 64MB global
# broadcasting a ~56MB filtered orders-x-customer build side in q3 — the
# single-threaded HashedRelation build + per-core copy lost to a plain
# shuffle join by ~1.6x even with local-mode zero-cost "network". True
# dims (nation/region/norm maps) are far below 16MB. Raise via
# $SPARK_GRAFT_BCAST_BYTES on clusters where a 64MB dim broadcast saves
# re-shuffling a 100TB fact side (SCALE.md) — that trade only pays when
# the probe side's shuffle would dwarf `executors x build_size` network.
_BCAST_ENV = "SPARK_GRAFT_BCAST_BYTES"
_BCAST_DEFAULT = 16 * 1024 * 1024

# AQE coalesce target — the one genuinely SIZE-DEPENDENT knob, so it is an
# env override rather than a hard global. At single-node bench scale the
# 64MB default collapses sub-100MB final stages to ONE partition,
# serializing the Arrow result fetch on a single thread — at sf0.1 that is
# 17% of kgx_edge_merge's wall time (measured 3.02s -> 2.52s at 4MB; 2MB
# and below regress on task overhead) — so bench.py exports
# SPARK_GRAFT_AQE_ADVISORY_BYTES=4194304. At cluster scale against TB
# shuffles leave it unset (Spark's 64MB default) or set 64-256MB; a small
# value there inflates task counts pathologically.
# A set advisory also sets the coalescing floor
# (coalescePartitions.minPartitionSize) to advisory // 64, Spark's own
# default ratio (64MB : 1MB). AQE's parallelism-first coalescing keeps
# defaultParallelism partitions for any shuffle above cores x floor.
# Under Spark's 1MB floor, kgx_edge_merge's 1.45MB shuffle coalesced to
# ONE partition, so its post-exchange ObjectHashAggregate and parquet
# write ran as one ~0.5 s task (perfbench kg_etl at sf0.01, 4 cores,
# traced). With the 64KB floor at the 4MB advisory that stage runs on
# every core: kg_etl tasks 14 -> 19, core-busy ratio 0.18 -> 0.34, and
# kgx_edge_merge (already plan-memoized, so the floor is its only
# change) 0.94 -> 0.68 s warm median over 10 interleaved seed pairs.
# Unset (cluster deploys, __spark_entry__.py), Spark's 1MB floor stays.
_AQE_ADVISORY_ENV = "SPARK_GRAFT_AQE_ADVISORY_BYTES"


def _default_driver_mem(meminfo: str = "/proc/meminfo") -> str:
    """Half the host's MemTotal, capped at 16g: in local mode the driver
    heap holds every executor, and a fixed 16g on a 15 GB host lets the
    JVM grow until the kernel kills it. 16g where MemTotal is unknown."""
    try:
        with open(meminfo) as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "16g"
    return f"{max(1, min(16 * 1024, kb // 2048))}m"


def _build_confs() -> dict[str, str]:
    """Static confs for sessions we create ourselves (JVM-start-time
    only). A FUNCTION, not a module constant: callers set
    $SPARK_GRAFT_DRIVER_MEM between import and get_spark(), so the env
    must be read when the session is built, never at import time. An
    explicit $SPARK_GRAFT_DRIVER_MEM wins over the host-sized default."""
    return {
        "spark.driver.memory":
            os.environ.get("SPARK_GRAFT_DRIVER_MEM")
            or _default_driver_mem(),
        "spark.ui.enabled": "false",
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        # Generated-class cache, keyed by generated source. Spark's 100
        # entries are a Guava cache of 4 segments x 25, each evicting on
        # its own. perfbench's analytics cold pass compiles 92 distinct
        # classes, so a mixed warm pass recompiled 0-23 of them, up to
        # 0.4 s of a 2 s pass (4 vCPUs). One run of all 183 entries at
        # sf0.01 in one session compiles 1,806 distinct classes (4,379
        # JVM classes, 11.3 KB of source each on average); 4096 (4 x 1024)
        # holds them all, for 6.5 MB more metaspace and no more heap
        # after GC than the 100-entry cache. A static conf: a driver-owned
        # session needs it at submit,
        # --conf spark.sql.codegen.cache.maxEntries=4096 (SCALE.md).
        "spark.sql.codegen.cache.maxEntries": "4096",
    }


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent, cheap).

    $SPARK_GRAFT_AQE_ADVISORY_BYTES overrides the AQE coalesce target
    and sets the coalescing floor to 1/64 of it; unset leaves Spark's
    defaults (64MB, 1MB) — see the _AQE_ADVISORY_ENV comment for why
    this is not a hard global. Env knobs are read here, at CALL time,
    so setting one after import still takes effect.
    """
    confs = dict(_RUNTIME_CONFS)
    advisory = os.environ.get(_AQE_ADVISORY_ENV)
    if advisory:
        confs["spark.sql.adaptive.advisoryPartitionSizeInBytes"] = \
            str(int(advisory))
        confs["spark.sql.adaptive.coalescePartitions.minPartitionSize"] = \
            str(int(advisory) // 64)
    bcast = str(int(os.environ.get(_BCAST_ENV, _BCAST_DEFAULT)))
    confs["spark.sql.autoBroadcastJoinThreshold"] = bcast
    confs["spark.sql.adaptive.autoBroadcastJoinThreshold"] = bcast
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # A static conf on some build — never fatal; the reader raises a
            # clear error later if the conf truly could not be applied.
            pass
    return spark


def get_spark(app_name: str = "data_services_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Local default mirrors the driver harness: ``local[$SPARK_GRAFT_CPUS]``
    with shuffle partitions sized to the core count (at cluster scale you
    size these to data volume instead; AQE coalesces down).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    )
    for k, v in {**_build_confs(), **_RUNTIME_CONFS}.items():
        builder = builder.config(k, v)
    return configure_session(builder.getOrCreate())
