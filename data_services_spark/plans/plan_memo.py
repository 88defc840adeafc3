"""Analyzed-plan rebuild memo — the driver-floor device (round 14,
r13 VERDICT ask #6, guide §5 "the driver should do almost no data
work" extended to plan construction).

bench.py times RAW_QUERIES, which must return a FRESH DataFrame per
call so every execution pays full scan + shuffle + fetch (a memoized
HANDLE re-executes its finalized AQE plan and silently reuses its
materialized shuffle outputs — that is what the bench's separate
"marginal" column measures, and it under-reports the query's work).
But a fresh PySpark build also re-pays a pure driver constant that has
nothing to do with the data: py4j round trips constructing the
expression tree, Catalyst ANALYSIS, and the widen guard's probes —
profiled at 0.03-0.13 s per bench query (tools/bench_phases.py),
~16% of the calm-host fresh total.

This memo removes exactly that constant and nothing else: it stores
the ANALYZED LOGICAL PLAN (a JVM expression tree — no data, no RDDs,
no shuffle state) keyed on everything that can change the tree, and on
a hit wraps the SAME tree in a brand-new ``Dataset.ofRows``. A new
Dataset means a new QueryExecution, new physical planning, new RDDs —
so every execution still re-reads parquet and re-shuffles end to end.
Measured proof (sf0.1, same session): q3 fresh-build 0.72 s,
ofRows-rebuild 0.56 s, same-handle marginal re-run 0.06 s — the
rebuild sits at full-execution cost minus the build constant, nowhere
near the shuffle-reusing marginal.

Eligibility is OPT-IN per registry entry (``@register(...,
lazy_build=True)``) and restricted to PURE-LAZY builders:

- no jobs at build time (the CC capstones run their label loop
  eagerly inside the builder; memoizing their final plan would skip
  that work and reference checkpointed RDD blocks — result caching);
- no ``persist``/one-slot cache in the plan (Spark's CacheManager
  matches by canonicalized plan, so a rebuilt twin of a persisted
  subtree would silently read the previous call's cached data);
- no closures over values computed FROM the input at build time.

Staleness (the r13 ADVICE discipline): the key carries applicationId +
defaultParallelism (never a GC-aliasable py4j wrapper id), sf_dir and
the split confs; the layout gates are module constants
(plans/widen.py), fixed for the process. The stored entry additionally
records (size, mtime_ns) of every input file and re-stats them on
every hit — an in-place rewrite of the test data invalidates the
entry instead of serving a stale file-index snapshot. Plans whose
inputs are not locally stat-able are never memoized (one build per
call on real deployments; a stale plan is worse than 100 ms).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from data_services_spark.plans.widen import _local_path

# Confs that set a scan's split count, and with it the widen decision.
_SPLIT_CONF_KEYS = ("spark.sql.files.maxPartitionBytes",
                    "spark.sql.files.openCostInBytes",
                    "spark.sql.files.minPartitionNum")

# key -> (analyzed jplan, sorted input files, (size, mtime_ns) per file)
_MEMO: dict[tuple, tuple] = {}


def _local_file_stats(files: list[str]) -> tuple | None:
    """(size, mtime_ns) per input file, or None when any file is not
    locally stat-able — those plans are never memoized."""
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


def _memo_key(spark: SparkSession, name: str, sf_dir: str) -> tuple:
    sc = spark.sparkContext
    conf = spark.conf
    return (sc.applicationId, sc.defaultParallelism, name, sf_dir,
            tuple(conf.get(k, None) for k in _SPLIT_CONF_KEYS))


def rebuild_or_build(spark: SparkSession, name: str, sf_dir: str,
                     builder) -> DataFrame:
    """Fresh DataFrame for ``name``: ofRows over the memoized analyzed
    plan when the key matches and every input file is byte/mtime
    identical; otherwise run ``builder`` and (when stat-able) memoize
    its analyzed plan."""
    key = _memo_key(spark, name, sf_dir)
    hit = _MEMO.get(key)
    if hit is not None:
        jplan, files, stats = hit
        if _local_file_stats(files) == stats:
            jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                spark._jsparkSession, jplan)
            return DataFrame(jdf, spark)
        _MEMO.pop(key, None)  # inputs rewritten in place: rebuild
    df = builder(spark, sf_dir)
    try:
        files = sorted(df.inputFiles())
        stats = _local_file_stats(files) if files else None
        jplan = df._jdf.queryExecution().analyzed()
    except Exception:
        return df  # un-introspectable plan: never memoize, always build
    if stats is not None:
        _MEMO[key] = (jplan, files, stats)
    return df
