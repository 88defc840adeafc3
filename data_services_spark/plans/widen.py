"""Local-layout policy: the one place that decides when a plan pays an
explicit shuffle purely for task parallelism.

Every device here exists for one layout fact: a local parquet file
under ``spark.sql.files.maxPartitionBytes`` with one row group is ONE
split, so a serial per-row chain over it (the BPE replace chain, the
crawl regex stack, Arrow mapInPandas kernels) runs on one core, and
AQE's byte-based coalescing collapses a small shuffle to one task. At
real scale (many files/row groups, non-local storage) the size gates
below are OFF and the plans keep Spark's own split and AQE sizing.

Two batch helpers, size-gated on the plan's own input files:

- :func:`widen_if_narrow` — repartition a scan to the core count iff
  its input is at least ``min_bytes`` (unknown size counts as large)
  AND it yields fewer splits than cores. No keys: round-robin; keys:
  hash partitioning, which skips the keyless form's serial
  sort-before-repartition and is reused by a downstream groupBy/join
  on a key superset.
- :func:`rebalance_if_small` — pin a cores-wide ``repartition`` before
  (keyed) or after a small shuffle iff the input is at most
  ``REBALANCE_MAX_BYTES``. ``repartition(n)`` is REPARTITION_BY_NUM,
  which AQE never re-coalesces; unknown or large inputs keep AQE sizing.

Three constants decide every plan:

- ``WIDEN_MIN_BYTES`` (2 MB): default widen gate — sub-second small-sf
  runs keep their pinned 0-exchange map-only plans.
- ``CHAIN_MIN_BYTES`` (128 KB): widen gate for per-input-byte-heavy
  chains (~150 passes per byte: BPE chain, hash fan-outs, Arrow
  kernels). Measured r13 at sf0.1 (584 KB documents): chain serial
  1.66 s -> 0.27 s widened; sf0.01 (65 KB) stays under it.
- ``REBALANCE_MAX_BYTES`` (64 MB): rebalance gate.

:func:`stream_chain_widen` is the streaming twin of the chain gate for
file-source streams (the split probe cannot see a streaming plan).
"""

from __future__ import annotations

import math
import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame

WIDEN_MIN_BYTES = 2 * 1024 * 1024
CHAIN_MIN_BYTES = 128 * 1024
REBALANCE_MAX_BYTES = 64 * 1024 * 1024


def _local_path(uri: str) -> str | None:
    """Local filesystem path of an input-file URI, or None when the
    file is not stat-able from this driver (remote storage, or a
    ``file:`` URI with a non-local authority). Percent-escapes are
    decoded for URIs only; a bare path is returned unchanged."""
    if uri.startswith("file:"):
        parsed = urlparse(uri)
        if parsed.netloc not in ("", "localhost"):
            return None
        return unquote(parsed.path)
    if "://" not in uri:
        return uri
    return None


def _input_bytes(df: DataFrame) -> int | None:
    """Total size of the plan's input files, or None when unknowable
    (non-local storage). Driver-side stat calls only — no job."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    total = 0
    for uri in files:
        path = _local_path(uri)
        if path is None:
            return None
        try:
            total += os.path.getsize(path)
        except OSError:
            return None
    return total


def widen_if_narrow(df: DataFrame, *keys: str,
                    min_bytes: int = WIDEN_MIN_BYTES) -> DataFrame:
    """Repartition ``df`` to ``defaultParallelism`` (on ``keys`` when
    given) iff its input is not known to be under ``min_bytes`` and
    the scan is narrower than the core count. Returns ``df`` unchanged
    otherwise, and always for a streaming plan.

    The cheap byte gate runs first; the ``.rdd`` partition probe
    (full physical planning, ~38 ms) runs only past it. Keys must be
    high-cardinality (far more distinct values than cores) so the
    hash buckets stay balanced."""
    if df.isStreaming:
        return df
    size = _input_bytes(df)
    if size is not None and size < min_bytes:
        return df
    cores = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= cores:
        return df
    return df.repartition(cores, *keys)


def rebalance_if_small(df: DataFrame, *keys: str) -> DataFrame:
    """Pinned cores-wide ``repartition`` (on ``keys`` when given) iff
    ``df``'s input files total at most ``REBALANCE_MAX_BYTES``.

    Keyless, after a shuffle: AQE byte-coalesces a tiny shuffle output
    to one task, serializing a heavy downstream chain or every read
    of a persisted result. Keyed, before a window/aggregation on the
    same keys: the operator reuses the exchange, so the exchange count
    is unchanged and only the task count grows. Returns ``df``
    unchanged for a streaming plan and for large or unknown inputs,
    where AQE's own sizing already yields wide stages."""
    if df.isStreaming:
        return df
    size = _input_bytes(df)
    if size is None or size > REBALANCE_MAX_BYTES:
        return df
    cores = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(cores, *keys)


def dir_data_file_sizes(source_dir: str) -> list[int] | None:
    """Sizes of the DATA files under ``source_dir``, recursively, or
    None when the dir is not locally listable. Walks the tree, sums
    only regular files, and skips dot/underscore metadata entries
    (_spark_metadata, _SUCCESS, .crc) at every level — the same files
    Spark's own file index ignores — so a nested partition subdirectory
    is never counted as its inode size."""
    def _raise(err):  # os.walk swallows errors by default; a partial
        raise err      # walk must not masquerade as a small dir

    try:
        if not os.path.isdir(source_dir):
            return None
        sizes: list[int] = []
        for root, dirnames, filenames in os.walk(source_dir,
                                                 onerror=_raise):
            dirnames[:] = [d for d in dirnames
                           if not d.startswith((".", "_"))]
            for f in filenames:
                if f.startswith((".", "_")):
                    continue
                p = os.path.join(root, f)
                if os.path.isfile(p):
                    sizes.append(os.path.getsize(p))
        return sizes
    except OSError:
        return None


def stream_chain_widen(spark, source_dir: str) -> int | None:
    """Streaming twin of the chain gate, for file-source streams whose
    micro-batch parallelism follows the landing dir's file splits.
    Returns the partition count to ``repartition`` the stream to —
    ``defaultParallelism`` — when ALL of:

    - the landing dir is locally stat-able (object stores return None:
      an unknown source means a real deployment whose landing dir
      yields many splits per batch, so the stream is left alone);
    - its bytes clear ``CHAIN_MIN_BYTES`` (tiny drains keep their
      pinned no-shuffle plans);
    - the estimated split count (per-file ceil(bytes/maxPartitionBytes))
      is below the core count.
    """
    sizes = dir_data_file_sizes(source_dir)
    if sizes is None:
        return None
    if sum(sizes) < CHAIN_MIN_BYTES:
        return None
    try:
        mpb = int(spark.conf.get("spark.sql.files.maxPartitionBytes"))
    except (TypeError, ValueError):  # "128m"-style or managed platforms
        mpb = 128 * 1024 * 1024
    splits = sum(max(1, math.ceil(s / mpb)) for s in sizes)
    cores = spark.sparkContext.defaultParallelism
    if splits >= cores:
        return None
    return cores
