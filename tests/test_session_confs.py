"""Session-configuration contract: the env-tunable knobs must actually
land in the SQL conf (bench.py and cluster deploys depend on them)."""

from __future__ import annotations

import os


def test_bcast_threshold_env_override(spark, monkeypatch):
    from data_services_spark.session import configure_session

    monkeypatch.setenv("SPARK_GRAFT_BCAST_BYTES", str(12 * 1024 * 1024))
    configure_session(spark)
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == \
        str(12 * 1024 * 1024)
    assert spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold") \
        == str(12 * 1024 * 1024)
    # restore the default for other tests in this shared session
    monkeypatch.delenv("SPARK_GRAFT_BCAST_BYTES")
    configure_session(spark)
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == \
        str(16 * 1024 * 1024)


def test_aqe_advisory_env_override(spark, monkeypatch):
    """A set advisory lands in the conf with the coalescing floor at 1/64
    of it; unset, configure_session sets neither. Both confs are
    restored afterwards, so no later test in the shared session runs
    with them."""
    from data_services_spark.session import configure_session

    keys = ("spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.minPartitionSize")
    prior = {k: spark.conf.get(k, None) for k in keys}
    try:
        monkeypatch.setenv("SPARK_GRAFT_AQE_ADVISORY_BYTES", str(8_000_000))
        configure_session(spark)
        assert spark.conf.get(keys[0]) == "8000000"
        assert spark.conf.get(keys[1]) == str(8_000_000 // 64)
        monkeypatch.delenv("SPARK_GRAFT_AQE_ADVISORY_BYTES")
        for k in keys:
            spark.conf.unset(k)
        configure_session(spark)
        assert {k: spark.conf.get(k, None) for k in keys} == \
            dict.fromkeys(keys)
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert {k: spark.conf.get(k, None) for k in keys} == prior


def test_driver_heap_sized_from_host(tmp_path, monkeypatch):
    """The default driver heap is half of MemTotal, capped at 16g, and
    16g when MemTotal cannot be read; an explicit
    $SPARK_GRAFT_DRIVER_MEM wins."""
    from data_services_spark.session import (
        _build_confs, _default_driver_mem)

    def host(kb):
        p = tmp_path / f"meminfo{kb}"
        p.write_text(f"MemTotal:       {kb} kB\nMemFree:  1 kB\n")
        return str(p)

    assert _default_driver_mem(host(15 * 1024 * 1024)) == "7680m"
    assert _default_driver_mem(host(128 * 1024 * 1024)) == "16384m"
    assert _default_driver_mem(str(tmp_path / "missing")) == "16g"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    heap = _build_confs()["spark.driver.memory"]
    assert heap == _default_driver_mem()
    assert int(heap.rstrip("mg")) <= 16 * 1024
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert _build_confs()["spark.driver.memory"] == "3g"


def test_warm_pass_compiles_nothing(spark, tmp_path):
    """A second pass over perfbench's 11 ops compiles no generated class.
    The ops need 134 distinct classes here; under Spark's default cache
    of 100 (4 Guava segments of 25, each evicting on its own) the second
    pass recompiled 116 of them."""
    import pathlib
    import runpy

    from data_services_spark.registry import RAW_QUERIES
    from data_services_spark.session import _build_confs
    from tests.conftest import SF_DIR

    assert _build_confs()["spark.sql.codegen.cache.maxEntries"] == "4096"
    # perfbench is a script directory, not a package: run its table's file.
    wls = runpy.run_path(str(pathlib.Path(__file__).parents[1] / "perfbench"
                             / "workloads.py"))["WORKLOADS"]
    ops = [(op, wls[w].sink) for w in ("analytics", "kg_etl")
           for op in wls[w].ops]
    assert len(ops) == 11
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()

    def one_pass():
        for op, sink in ops:
            df = RAW_QUERIES[op](spark, SF_DIR)
            if sink == "parquet":
                df.write.mode("overwrite").parquet(str(tmp_path / op))
            else:
                assert df.toArrow().num_rows > 0, op

    one_pass()
    before = compiles.getCount()
    one_pass()
    assert compiles.getCount() == before


def test_registry_imports_without_pandas():
    """Importing the registry does not import pandas (about 0.3 s); the
    operators that need it import it inside the functions their Python
    workers run. pyspark itself imports pandas when a SparkContext
    starts, so in a driver this moves the cost into session start."""
    import pathlib
    import subprocess
    import sys

    code = ("import sys, data_services_spark.registry; "
            "assert 'pandas' not in sys.modules, 'pandas imported'")
    subprocess.run([sys.executable, "-c", code], check=True,
                   cwd=pathlib.Path(__file__).parents[1])
