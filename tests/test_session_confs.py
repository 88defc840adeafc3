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
