"""Driver-shaped correctness gate at sf0.001: every registry query vs its
DuckDB oracle (the driver repeats this at sf0.01). What is executed is
the plan memo's rebuild of each stored entry, so one execution checks
both the entry and the memo."""

from __future__ import annotations

import pytest

from data_services_spark.registry import ORACLES, QUERIES
from tests.conftest import assert_same_result
from tests.test_plan_memo import memo_rebuild


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(name, spark, duck, monkeypatch):
    sdf = memo_rebuild(spark, monkeypatch, name)
    assert_same_result(sdf, duck, ORACLES[name])


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only(name, spark, monkeypatch):
    sdf = memo_rebuild(spark, monkeypatch, name)
    assert sdf.count() > 0


def test_entry_smoke(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert df.columns
