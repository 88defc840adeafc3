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
