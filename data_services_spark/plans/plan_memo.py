"""The one driver-side memo: every value the driver reuses across
calls (table handles, analyzed plans, query vectors, trained tables)
lives in ``_MEMO`` behind two primitives, :func:`memo_get` and
:func:`memo_put`.

Staleness (aim 3: a stale input triggers a rebuild, never a serve):
every key is prefixed with the session's applicationId (never a
GC-aliasable py4j wrapper id), and every entry records (size,
mtime_ns) of the input files its value was built from. A hit re-stats
them; an in-place rewrite of any file drops the entry and the caller
rebuilds instead of serving a stale file-index snapshot. Values whose
inputs are not locally stat-able are never stored (one build per call
on real deployments; a stale plan is worse than 100 ms). The store
holds at most ``MEMO_CAP`` entries; an insert past the cap evicts the
single oldest one, which only ever costs a rebuild.

:func:`rebuild_or_build` is the analyzed-plan rebuild on top of the
store (round 14, r13 VERDICT ask #6). bench.py times RAW_QUERIES,
which must return a FRESH DataFrame per call so every execution pays
full scan + shuffle + fetch (a memoized HANDLE re-executes its
finalized AQE plan and silently reuses its materialized shuffle
outputs). But a fresh PySpark build also re-pays a pure driver
constant: py4j round trips constructing the expression tree, Catalyst
ANALYSIS, and the widen guard's probes — profiled at 0.03-0.13 s per
bench query (tools/bench_phases.py), ~16% of the calm-host fresh
total. The memo stores the ANALYZED LOGICAL PLAN (a JVM expression
tree — no data, no RDDs, no shuffle state) and on a hit wraps the SAME
tree in a brand-new ``Dataset.ofRows``: a new QueryExecution, new
physical planning, new RDDs, so every execution still re-reads parquet
and re-shuffles end to end. Measured proof (sf0.1, same session): q3
fresh-build 0.72 s, ofRows-rebuild 0.56 s, same-handle marginal
re-run 0.06 s — the rebuild sits at full-execution cost minus the
build constant, nowhere near the shuffle-reusing marginal.

Every registered entry goes through :func:`rebuild_or_build`, and the
memo decides per build whether the build was PURE and may be stored.
It stores the analyzed plan only when all four checks pass, cheapest
refusal first:

1. no Spark job started during the build: the DAGScheduler's job
   counter, which updates synchronously (the status tracker does not),
   is equal before and after. The CC capstones run their label loop
   eagerly inside the builder; memoizing their final plan would skip
   that work and reference checkpointed RDD blocks. A first build that
   fills a memoized value (a table handle's schema read, knn's query
   vector) runs a job too, so it is not stored and the next one is;
2. the plan has input files, all locally stat-able (remote deployments
   and file-less plans, e.g. the streaming drains, are never stored);
3. no ``InMemoryRelation`` in ``withCachedData`` (Spark's CacheManager
   matches by canonicalized plan, so a rebuilt twin of a persisted
   subtree would silently read the previous call's cached data);
4. no ``LogicalRDD`` in the analyzed plan (a Python RDD is built from
   values the driver holds, not from the plan's input files).

A builder may close over a value it reads from the store (a table
handle, a query vector, a trained table) only when that value is built
from the plan's own input files or from a literal, so the plan's stat
check also covers it. The IVF entries' plans read the index, not
``embeddings``; they run a job on every build and are never stored.

The plan key adds defaultParallelism, sf_dir and the confs a build
reads (split sizing for the widen decision, shuffle partitions for
scalable_running_sum's bucket count); the layout gates are module
constants (plans/widen.py), fixed for the process.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from data_services_spark.plans.widen import _local_path

# Confs a build reads: a scan's split count (and with it the widen
# decision) and the shuffle partitions scalable_running_sum buckets to.
_BUILD_CONF_KEYS = ("spark.sql.files.maxPartitionBytes",
                    "spark.sql.files.openCostInBytes",
                    "spark.sql.files.minPartitionNum",
                    "spark.sql.shuffle.partitions")

MEMO_CAP = 512

# (applicationId, *key) -> (value, sorted input files, (size, mtime_ns)
# per file); insertion order is age order.
_MEMO: dict[tuple, tuple] = {}


def _local_file_stats(files: list[str]) -> tuple | None:
    """(size, mtime_ns) per input file, or None when any file is not
    locally stat-able — those values are never memoized."""
    stats = []
    for uri in files:
        path = _local_path(uri)
        if path is None:
            return None
        try:
            st = os.stat(path)
        except OSError:
            return None
        stats.append((st.st_size, st.st_mtime_ns))
    return tuple(stats)


def memo_get(spark: SparkSession, key: tuple):
    """The value stored under ``key`` for this session, or None when
    absent or when any of its input files changed since it was
    stored (the stale entry is dropped)."""
    full = (spark.sparkContext.applicationId, *key)
    hit = _MEMO.get(full)
    if hit is None:
        return None
    value, files, stats = hit
    if _local_file_stats(files) != stats:
        _MEMO.pop(full, None)  # inputs rewritten in place: rebuild
        return None
    return value


def memo_put(spark: SparkSession, key: tuple, value,
             files: list[str], stats: tuple | None = None) -> None:
    """Store ``value`` under ``key`` for this session, built from
    ``files`` (may be empty); stores nothing when any file is not
    locally stat-able. A caller that already stat'ed ``sorted(files)``
    passes those ``stats`` so each file is stat'ed once."""
    files = sorted(files)
    if stats is None:
        stats = _local_file_stats(files)
    if stats is None:
        return
    _MEMO[(spark.sparkContext.applicationId, *key)] = (value, files, stats)
    if len(_MEMO) > MEMO_CAP:
        del _MEMO[next(iter(_MEMO))]


def _plan_key(spark: SparkSession, name: str, sf_dir: str) -> tuple:
    return (spark.sparkContext.defaultParallelism, name, sf_dir,
            tuple(spark.conf.get(k, None) for k in _BUILD_CONF_KEYS))


def _jobs_started(spark: SparkSession) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def rebuild_or_build(spark: SparkSession, name: str, sf_dir: str,
                     builder) -> DataFrame:
    """Fresh DataFrame for ``name``: ofRows over the memoized analyzed
    plan when the key matches and every input file is byte/mtime
    identical; otherwise run ``builder`` and memoize its analyzed plan
    when the build was pure (module docstring, checks 1-4)."""
    key = _plan_key(spark, name, sf_dir)
    jplan = memo_get(spark, key)
    if jplan is not None:
        jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, jplan)
        return DataFrame(jdf, spark)
    jobs = _jobs_started(spark)
    df = builder(spark, sf_dir)
    if _jobs_started(spark) != jobs:
        return df
    try:
        files = sorted(df.inputFiles())
        stats = _local_file_stats(files) if files else None
        if stats is None:
            return df
        qe = df._jdf.queryExecution()
        jplan = qe.analyzed()
        if "LogicalRDD" in jplan.toString() or \
                "InMemoryRelation" in qe.withCachedData().toString():
            return df
    except Exception:
        return df  # un-introspectable plan: never memoize, always build
    memo_put(spark, key, jplan, files, stats)
    return df
