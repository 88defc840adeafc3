"""The driver-side memo (plans/plan_memo.py) and its analyzed-plan
rebuild (round 14 VERDICT ask #6): fresh Datasets from a memoized
analyzed tree must be real re-executions — never handle reuse, never
stale plans or table handles."""

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
    (the r13 ADVICE staleness discipline) — through the memo itself,
    through catalog.load_table, and through a registered query whose
    builder reads its table via load_table (a cached table handle
    would hand the rebuild the old file index and silently drop the
    rows beyond the old file length)."""
    import pyarrow.parquet as pq

    from data_services_spark.catalog import load_table
    from data_services_spark.plans.plan_memo import rebuild_or_build
    from data_services_spark.registry import _Q1_SQL, RAW_QUERIES

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

    lineitem = pq.read_table(os.path.join(
        os.path.dirname(SF_DIR), "sf0.01", "lineitem.parquet"))
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    li_path = os.path.join(sf_dir, "lineitem.parquet")
    pq.write_table(lineitem.slice(0, 2000), li_path, row_group_size=500)
    assert load_table(spark, sf_dir, "lineitem").count() == 2000
    RAW_QUERIES["q1_pricing_summary"](spark, sf_dir).collect()
    pq.write_table(lineitem.slice(0, 40000), li_path, row_group_size=500)
    fresh = spark.read.parquet(li_path)
    assert fresh.count() == 40000
    assert load_table(spark, sf_dir, "lineitem").count() == 40000
    q1 = RAW_QUERIES["q1_pricing_summary"](spark, sf_dir)
    want = spark.sql(_Q1_SQL.replace("FROM lineitem", "FROM {lineitem}"),
                     lineitem=fresh)
    assert _rows(q1) == _rows(want)


def _lazy_build_names() -> list[str]:
    from data_services_spark.registry import QUERIES
    return sorted(n for n, f in QUERIES.items() if f.lazy_build)


def _lazy_build_violations(spark, builder) -> list[str]:
    """Run ``builder`` under a dedicated job group and return how it
    breaks the lazy_build contract: a Spark job started during the
    build, a cached relation or a Python RDD in its plan."""
    sc = spark.sparkContext
    group = f"lazy-build-contract-{id(builder)}"
    sc.setJobGroup(group, "lazy_build contract")
    try:
        df = builder(spark, SF_DIR)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    qe = df._jdf.queryExecution()
    out = []
    if sc.statusTracker().getJobIdsForGroup(group):
        out.append("job")
    if "InMemoryRelation" in qe.withCachedData().toString():
        out.append("InMemoryRelation")
    if "LogicalRDD" in qe.analyzed().toString():
        out.append("LogicalRDD")
    return out


def test_lazy_build_marks_the_kgx_builders():
    """The KGX section's pure builders are memoized; the contract test
    below checks each one."""
    names = set(_lazy_build_names())
    assert {"graph_build", "graph_build_nodes", "kgx_normalize",
            "kgx_edge_normalize", "kgx_norm_failures",
            "kgx_connected_subset", "kgx_two_hop", "kgx_meta_kg",
            "skew_salted_degree", "record_counts"} <= names


@pytest.mark.parametrize("name", _lazy_build_names())
def test_lazy_build_queries_value_parity_first_vs_rebuilt(
        spark, monkeypatch, name):
    """Every lazy_build entry: with the memo emptied, the first call
    really runs the builder (warming only stat-checked data entries:
    table handles, query vectors); a second run of the builder starts
    no Spark job and plans no cached relation or Python RDD; and the
    memo's rebuild returns the first build's rows."""
    from data_services_spark.plans import plan_memo as pm
    from data_services_spark.registry import QUERIES

    monkeypatch.setattr(pm, "_MEMO", {})
    entry = QUERIES[name]
    first = _rows(entry(spark, SF_DIR))
    assert _lazy_build_violations(spark, entry.__wrapped__) == []
    assert _rows(entry(spark, SF_DIR)) == first


def test_lazy_build_check_catches_eager_builders(spark):
    """The contract check fails a builder that runs a job, one that
    persists, and one that plans a Python RDD."""
    persisted = []

    def counts(s, sf):
        df = s.range(3)
        df.count()
        return df

    def persists(s, sf):
        persisted.append(s.range(5).filter("id > 0").persist())
        return persisted[-1]

    def rdd(s, sf):
        return s.createDataFrame([(1,)], "x long")

    assert _lazy_build_violations(spark, counts) == ["job"]
    try:
        assert _lazy_build_violations(spark, persists) == \
            ["InMemoryRelation"]
    finally:
        for df in persisted:
            df.unpersist()
    assert _lazy_build_violations(spark, rdd) == ["LogicalRDD"]


def test_memo_evicts_oldest_skips_remote_and_refetches_query_vector(
        spark, tmp_path, monkeypatch):
    """The one driver-side memo: past MEMO_CAP an insert evicts exactly
    the oldest entry; a value built from a file that cannot be stat'ed
    locally is never stored; a memoized query vector is refetched after
    its embeddings file is rewritten in place."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_services_spark.catalog import load_table
    from data_services_spark.operators.similarity import _query_vector
    from data_services_spark.plans import plan_memo as pm

    monkeypatch.setattr(pm, "_MEMO", {})
    monkeypatch.setattr(pm, "MEMO_CAP", 3)
    for i in range(4):
        pm.memo_put(spark, ("probe", i), i, [])
    assert len(pm._MEMO) == 3
    assert [pm.memo_get(spark, ("probe", i)) for i in range(4)] == \
        [None, 1, 2, 3]
    pm.memo_put(spark, ("remote",), "v", ["s3a://b/k"])
    assert pm.memo_get(spark, ("remote",)) is None
    assert len(pm._MEMO) == 3  # stored nothing, evicted nothing

    path = str(tmp_path / "embeddings.parquet")

    def write(vec):
        pq.write_table(pa.table({"vec_id": pa.array([7], pa.int64()),
                                 "embedding": [vec]}), path)

    def fetch():
        emb = load_table(spark, str(tmp_path), "embeddings")
        return _query_vector(emb, 7, "vec_id", "embedding")

    write([1.0, 2.0])
    first = fetch()
    assert first == [1.0, 2.0]
    assert fetch() is first  # memo hit: no second 1-row job
    write([3.0, 4.0, 5.0])
    assert fetch() == [3.0, 4.0, 5.0]
