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
    # a declared schema skips the footer-reading job a fresh read runs,
    # which would keep the memo from storing the build
    schema = spark.read.parquet(src).schema

    def builder(s, sf):
        calls.append(1)
        return s.read.schema(schema).parquet(path)

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


# The entries the memo never stores: builds that run a Spark job, plan
# a persist or plan a Python RDD, and the file-less streaming drains.
# Every other registered entry is stored from its second build on.
_NEVER_STORED = frozenset({
    "corpus_curate", "corpus_dedup", "dedup_components",
    "dsir_resample", "dsir_weights", "image_near_dup", "ivf_topk",
    "lm_bigram_logprob", "semdedup_trained", "token_packing_bpe",
    "token_packing_dict", "winnow_clone_clusters",
    "stream_classify", "stream_enrich", "stream_interval_join",
    "stream_session", "stream_sliding", "stream_tokenize",
    "stream_tumbling"})


def _stored_names() -> list[str]:
    from data_services_spark.registry import QUERIES
    return sorted(set(QUERIES) - _NEVER_STORED)


def _stored(spark, name: str) -> bool:
    from data_services_spark.plans import plan_memo as pm
    return pm.memo_get(spark, pm._plan_key(spark, name, SF_DIR)) \
        is not None


def _build_twice(spark, name: str):
    """Two calls of the registered entry; the first result. The first
    call warms the stat-checked data entries (table handles, query
    vectors), whose fetch jobs keep that build from being stored; the
    second is stored when it passes the memo's purity checks."""
    from data_services_spark.registry import QUERIES

    first = QUERIES[name](spark, SF_DIR)
    QUERIES[name](spark, SF_DIR)
    return first


def memo_rebuild(spark, monkeypatch, name: str):
    """The entry as the memo serves it: with the memo emptied, build
    twice and assert the second build was stored (every entry outside
    ``_NEVER_STORED``), then return a third build — the memo's
    rebuild — for the caller to execute. A never-stored entry is built
    once: it has no rebuild to check."""
    from data_services_spark.plans import plan_memo as pm
    from data_services_spark.registry import QUERIES

    if name in _NEVER_STORED:
        return QUERIES[name](spark, SF_DIR)
    monkeypatch.setattr(pm, "_MEMO", {})
    _build_twice(spark, name)
    assert _stored(spark, name)
    return QUERIES[name](spark, SF_DIR)


def test_lazy_build_marks_the_kgx_builders(spark, monkeypatch):
    """The KGX section's pure builders and the analytics workload's
    pure builders are memoized after two builds, with no flag on any
    entry."""
    from data_services_spark.plans import plan_memo as pm

    monkeypatch.setattr(pm, "_MEMO", {})
    names = {"graph_build", "graph_build_nodes", "kgx_normalize",
             "kgx_edge_normalize", "kgx_norm_failures",
             "kgx_connected_subset", "kgx_two_hop", "kgx_meta_kg",
             "skew_salted_degree", "record_counts",
             "q5_region_revenue", "q6_forecast_revenue",
             "q13_order_histogram", "window_rank", "agg_rollup"}
    for name in sorted(names):
        _build_twice(spark, name)
    assert {n for n in names if not _stored(spark, n)} == set()


def test_impure_builds_are_never_stored(spark, monkeypatch):
    """Entries whose builds run a job or plan a persist or a Python
    RDD, and the file-less streaming drains, are rebuilt on every call.
    The two IVF entries' plans read the index, not ``embeddings``, so a
    stored plan would go stale after an embeddings rewrite."""
    from data_services_spark.plans import plan_memo as pm
    from data_services_spark.registry import QUERIES

    assert _NEVER_STORED <= set(QUERIES)
    monkeypatch.setattr(pm, "_MEMO", {})
    for name in sorted(_NEVER_STORED):
        _build_twice(spark, name)
    assert [n for n in sorted(_NEVER_STORED) if _stored(spark, n)] == []


@pytest.mark.parametrize("name", _stored_names())
def test_lazy_build_queries_value_parity_first_vs_rebuilt(
        spark, monkeypatch, name):
    """Every entry outside ``_NEVER_STORED``: with the memo emptied,
    the first call really runs the builder and the second build is
    stored. Nothing is executed here: tests/test_oracle_parity.py runs
    each entry's memo rebuild against its DuckDB oracle (or, for the
    entries without one, checks that it returns rows)."""
    from data_services_spark.plans import plan_memo as pm

    monkeypatch.setattr(pm, "_MEMO", {})
    _build_twice(spark, name)
    assert _stored(spark, name)


def test_lazy_build_check_catches_eager_builders(spark):
    """The memo's purity checks refuse a builder that runs a job, one
    that persists and one that plans a Python RDD: each runs on both
    calls and nothing is stored, while the same input without the
    impurity is stored."""
    from data_services_spark.plans import plan_memo as pm

    # read once here: a fresh read's schema job would trip every probe
    base = spark.read.parquet(os.path.join(SF_DIR, "nation.parquet"))
    persisted = []

    def counts(s, sf):
        base.count()
        return base

    def persists(s, sf):
        # joined to the unpersisted scan, so the plan keeps input files
        persisted.append(base.filter("n_nationkey > 0").persist())
        return persisted[-1].join(base.select("n_nationkey"),
                                  "n_nationkey")

    def rdd(s, sf):
        return base.crossJoin(s.createDataFrame([(1,)], "x long"))

    try:
        for name, builder in (("counts", counts), ("persists", persists),
                              ("rdd", rdd)):
            calls = []

            def counted(s, sf, builder=builder, calls=calls):
                calls.append(1)
                return builder(s, sf)

            probe = f"eager_probe_{name}"
            for _ in range(2):
                assert pm.rebuild_or_build(spark, probe, SF_DIR,
                                           counted).inputFiles()
            assert len(calls) == 2, name
            assert not _stored(spark, probe), name
        # the same base without the impurity is stored on its first
        # build (a filter other than the persisted one's, which the
        # CacheManager would swap for its cached relation)
        pm.rebuild_or_build(spark, "eager_probe_pure", SF_DIR,
                            lambda s, sf: base.filter("n_regionkey > 0"))
        assert _stored(spark, "eager_probe_pure")
    finally:
        for df in persisted:
            df.unpersist()


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
