"""Analyzed-plan rebuild memo (plans/plan_memo.py, round 14 VERDICT
ask #6): fresh Datasets from a memoized analyzed tree must be real
re-executions — never handle reuse, never stale plans."""

from __future__ import annotations

import os
import shutil

import pytest

from tests.conftest import SF_DIR


def _rows(df):
    return sorted(map(str, df.toArrow().to_pylist()))


def test_lazy_build_rebuilds_fresh_dataset_with_equal_rows(spark):
    """Two RAW_QUERIES calls of a lazy_build query return DIFFERENT
    DataFrame objects (distinct JVM Datasets/QueryExecutions — so no
    finalized-AQE shuffle reuse is possible) over the same semantics,
    with identical rows."""
    from data_services_spark.registry import RAW_QUERIES

    d1 = RAW_QUERIES["q1_pricing_summary"](spark, SF_DIR)
    d2 = RAW_QUERIES["q1_pricing_summary"](spark, SF_DIR)
    assert d1 is not d2
    assert not d1._jdf.equals(d2._jdf)  # distinct JVM Datasets
    assert d2.sameSemantics(d1)
    assert _rows(d1) == _rows(d2)
    # the rebuilt plan is self-contained: no cached-relation reuse
    txt = d2._sc._jvm.PythonSQLUtils.explainString(
        d2._jdf.queryExecution(), "formatted")
    assert "InMemoryTableScan" not in txt
    assert "ReusedExchange" not in txt


def test_plan_memo_keys_isolate_sf_dirs(spark):
    """A memo hit for one sf_dir must never serve another's plan."""
    from data_services_spark.registry import RAW_QUERIES

    small = RAW_QUERIES["kgx_node_merge"](spark, SF_DIR).count()
    big = RAW_QUERIES["kgx_node_merge"](
        spark, "/root/testdata/sf0.01").count()
    again = RAW_QUERIES["kgx_node_merge"](spark, SF_DIR).count()
    assert small == again
    assert big > small


def test_plan_memo_invalidates_on_file_rewrite(spark, tmp_path):
    """An in-place rewrite of an input file (different size/mtime)
    must re-run the builder, not serve the stale file-index snapshot
    (the r13 ADVICE staleness discipline)."""
    from data_services_spark.plans.plan_memo import rebuild_or_build

    src = os.path.join(SF_DIR, "nation.parquet")
    path = str(tmp_path / "nation.parquet")
    shutil.copy(src, path)

    calls = []

    def builder(s, sf):
        calls.append(1)
        return s.read.parquet(path)

    d1 = rebuild_or_build(spark, "memo_probe", str(tmp_path), builder)
    n1 = d1.count()
    d2 = rebuild_or_build(spark, "memo_probe", str(tmp_path), builder)
    assert len(calls) == 1  # memo hit: builder not re-run
    assert d2.count() == n1
    # rewrite in place: same path, new bytes/mtime
    shutil.copy(os.path.join(SF_DIR, "region.parquet"), path)
    d3 = rebuild_or_build(spark, "memo_probe", str(tmp_path), builder)
    assert len(calls) == 2  # stale entry dropped, builder re-ran
    assert d3.count() == 5  # region rows, not stale nation plan


@pytest.mark.parametrize("name", [
    "q1_pricing_summary", "q3_shipping_priority", "kgx_edge_merge",
    "kgx_node_merge", "window_running_sum", "tumbling_window",
    "knn_cosine", "crawl_ingest", "text_dedup_exact", "bpe_tokenize",
    "bpe_tokenize_dict",
])
def test_lazy_build_queries_value_parity_first_vs_rebuilt(spark, name):
    """Every lazy_build-marked bench query: first build (builder path)
    and rebuilt (memo path) produce identical rows."""
    from data_services_spark.registry import RAW_QUERIES

    first = _rows(RAW_QUERIES[name](spark, SF_DIR))
    rebuilt = _rows(RAW_QUERIES[name](spark, SF_DIR))
    assert first == rebuilt
