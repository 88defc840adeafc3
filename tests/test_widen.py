"""Local-layout policy (plans/widen.py): the serial-chain queries
repartition to cores exactly when (input >= threshold) AND
(splits < cores), the small-sf pinned 0-exchange plans stay untouched,
and small shuffles are rebalanced only for small local inputs."""

from __future__ import annotations

import os

import pytest


SF_DIR = "/root/testdata/sf0.01"


def _n_parts(df) -> int:
    return df.rdd.getNumPartitions()


def test_widen_noop_below_threshold(spark):
    """sf0.01 documents (65 KB) sits under the 2 MB default: the scan
    keeps its single split and the plan gains no exchange — the
    pinned map-only shapes hold."""
    from data_services_spark.plans.widen import widen_if_narrow

    d = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")) \
        .select("doc_id", "text")
    out = widen_if_narrow(d)
    assert out is d  # unchanged handle: no Repartition node at all


def test_widen_repartitions_large_narrow_scan(spark):
    """Past the threshold a 1-split scan widens to defaultParallelism
    via ONE round-robin exchange; results are identical row-for-row
    (repartition changes partitioning, never values)."""
    from data_services_spark.operators.bpe import bpe_tokenize
    from data_services_spark.plans.widen import widen_if_narrow

    d = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")) \
        .select("doc_id", "text")
    cores = spark.sparkContext.defaultParallelism
    wide = widen_if_narrow(d, min_bytes=1)  # force: any size qualifies
    assert _n_parts(wide) == cores
    plan = wide._jdf.queryExecution().optimizedPlan().toString()
    assert "Repartition" in plan

    base = sorted(tuple(r) for r in bpe_tokenize(d).collect())
    widened = sorted(tuple(r) for r in bpe_tokenize(wide).collect())
    assert widened == base


def test_widen_noop_when_already_wide(spark):
    """splits >= cores: no shuffle is ever added, whatever the size."""
    from data_services_spark.plans.widen import widen_if_narrow

    d = spark.range(0, 1000, 1, spark.sparkContext.defaultParallelism)
    # min_bytes=0: a file-less plan (0 bytes) passes the byte gate, so
    # the split probe alone must refuse the widen
    assert widen_if_narrow(d, min_bytes=0) is d


def test_widened_tokenizers_stay_value_exact(spark, monkeypatch):
    """End to end at a forced-low chain gate: bpe_tokenize and
    bpe_tokenize_dict both gain the exchange and still produce the
    exact same rows as their unwidened forms (the sf1 correctness
    contract for the widen fix). The operators are called directly,
    so no plan-memo entry built under the real gate can be served."""
    from data_services_spark.operators.bpe import (
        bpe_tokenize, bpe_tokenize_dict,
    )
    from data_services_spark.plans import widen

    d = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")) \
        .select("doc_id", "text")
    base = sorted(tuple(r) for r in bpe_tokenize(d).collect())
    monkeypatch.setattr(widen, "CHAIN_MIN_BYTES", 1)
    chain = bpe_tokenize(d)
    kern = bpe_tokenize_dict(d)
    assert _n_parts(chain) == spark.sparkContext.defaultParallelism
    assert _n_parts(kern) == spark.sparkContext.defaultParallelism
    assert sorted(tuple(r) for r in chain.collect()) == base
    assert sorted(tuple(r) for r in kern.collect()) == base


def test_widen_by_key_gates_and_exchange_reuse(spark):
    """The keyed case of widen_if_narrow: gates exactly like the
    keyless case (unchanged handle under the byte floor and when
    already wide), and when it fires the exchange is HASH partitioning
    on the key — no sort-before-repartition — which a groupBy on a key
    superset reuses (exactly ONE exchange in the whole aggregate
    plan)."""
    import pyspark.sql.functions as F

    from data_services_spark.plans.widen import widen_if_narrow

    d = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet")) \
        .select("l_orderkey", "l_partkey")
    # below the byte floor: unchanged handle, no Repartition node
    assert widen_if_narrow(d, "l_orderkey",
                           min_bytes=10 * 1024 * 1024 * 1024) is d
    # already wide: unchanged handle whatever the size
    wide_in = spark.range(0, 1000, 1,
                          spark.sparkContext.defaultParallelism)
    assert widen_if_narrow(wide_in, "id", min_bytes=0) is wide_in

    cores = spark.sparkContext.defaultParallelism
    w = widen_if_narrow(d, "l_orderkey", min_bytes=1)  # force the widen
    assert _n_parts(w) == cores
    plan = w._jdf.queryExecution().toString()
    assert "hashpartitioning(l_orderkey" in plan
    # a groupBy on a SUPERSET of the widen key reuses the exchange
    agg = w.groupBy("l_orderkey", "l_partkey").agg(F.count("*").alias("n"))
    phys = agg._jdf.queryExecution().executedPlan().toString()
    assert phys.count("Exchange") == 1
    # values identical to the unwidened groupBy
    base = sorted(tuple(r) for r in
                  d.groupBy("l_orderkey", "l_partkey")
                  .agg(F.count("*").alias("n")).collect())
    assert sorted(tuple(r) for r in agg.collect()) == base


def test_rebalance_if_small_gate(spark, monkeypatch):
    """rebalance_if_small: repartitions to cores when the plan's own
    input files are under the gate, is a no-op above it (a real-scale
    plan must never pay the extra shuffle), and never changes values."""
    import pyspark.sql.functions as F

    from data_services_spark.plans import widen

    src = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")) \
        .select("doc_id", "text")
    grouped = src.groupBy((F.col("doc_id") % 7).alias("g")) \
        .agg(F.count(F.lit(1)).alias("n"))

    on = widen.rebalance_if_small(grouped)  # 65 KB input: gate ON
    assert "Repartition" in on._jdf.queryExecution().optimizedPlan() \
        .toString()
    monkeypatch.setattr(widen, "REBALANCE_MAX_BYTES", 1)
    assert widen.rebalance_if_small(grouped) is grouped  # gate OFF

    rows_on = sorted(tuple(r) for r in on.collect())
    rows_off = sorted(tuple(r) for r in grouped.collect())
    assert rows_on == rows_off


@pytest.mark.parametrize("uri, path", [
    ("file:///a%20b/x.parquet", "/a b/x.parquet"),
    ("file:/a%20b/x.parquet", "/a b/x.parquet"),
    ("file://localhost/p", "/p"),
    ("file://host/p", None),
    ("s3a://b/k", None),
    ("/data/x%20y.parquet", "/data/x%20y.parquet"),
])
def test_local_path_parses_input_file_uris(uri, path):
    """One URI->local-path parser serves the widen byte gate and the
    plan memo's file stats: percent-escapes decode for URIs only, a
    non-local authority or remote scheme is not stat-able here, and a
    bare path passes through unchanged."""
    from data_services_spark.plans.widen import _local_path

    assert _local_path(uri) == path


def test_layout_helpers_leave_streaming_plans_alone(spark):
    """Neither helper may add a repartition to a streaming plan: its
    micro-batch layout is the source's (stream_chain_widen decides it
    for file streams)."""
    from data_services_spark.plans.widen import (
        rebalance_if_small, widen_if_narrow)

    s = spark.readStream.format("rate").load()
    assert widen_if_narrow(s, min_bytes=1) is s
    assert widen_if_narrow(s, "value", min_bytes=1) is s
    assert rebalance_if_small(s) is s
    assert rebalance_if_small(s, "value") is s


def test_unknown_size_input_widens_when_narrow(spark, monkeypatch):
    """A plan whose input is not locally stat-able (object storage)
    passes the byte gate — at cluster scale a 1-split scan under a
    serial chain is always worth one bounded shuffle — and widens at
    the default gate; rebalance_if_small stays OFF for it."""
    from data_services_spark.plans.widen import (
        rebalance_if_small, widen_if_narrow)

    d = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")) \
        .select("doc_id", "text")
    assert widen_if_narrow(d) is d  # 65 KB local: under the 2 MB gate
    monkeypatch.setattr(d, "inputFiles",
                        lambda: ["s3a://bucket/documents.parquet"])
    wide = widen_if_narrow(d)
    assert wide is not d
    assert _n_parts(wide) == spark.sparkContext.defaultParallelism
    assert rebalance_if_small(d) is d


def test_corpus_curate_window_reads_only_the_documents_scan(spark,
                                                            monkeypatch):
    """corpus_curate gates its post-window rebalance on the window
    output's OWN input files; that equals gating on the documents scan
    because the window output reads exactly that scan's files."""
    from data_services_spark.catalog import load_table
    from data_services_spark.plans import widen
    from data_services_spark.registry import RAW_QUERIES
    from tests.conftest import SF_DIR as SMALL_SF

    seen = []
    real = widen.rebalance_if_small

    def spy(df, *keys):
        seen.append(df)
        return real(df, *keys)

    monkeypatch.setattr(widen, "rebalance_if_small", spy)
    RAW_QUERIES["corpus_curate"](spark, SMALL_SF)
    assert len(seen) == 1
    docs = load_table(spark, SMALL_SF, "documents")
    assert sorted(seen[0].inputFiles()) == sorted(docs.inputFiles())


def test_env_knobs_are_deployment_settings_only():
    """Knob-creep guard: the package reads only deployment settings
    from SPARK_GRAFT_* variables. Layout thresholds are module
    constants (plans/widen.py, streaming/events.py), never env knobs."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parents[1] / \
        "data_services_spark"
    names = set()
    for f in pkg.rglob("*.py"):
        names |= set(re.findall(r"SPARK_GRAFT_[A-Z_]+", f.read_text()))
    assert names == {f"SPARK_GRAFT_{n}" for n in (
        "CPUS", "MASTER", "DRIVER_MEM", "SF_DIR", "AQE_ADVISORY_BYTES",
        "BCAST_BYTES")}


def test_one_driver_side_memo():
    """Cache-creep guard: the only module-level empty dict in the
    package is plans/plan_memo.py's stat-checked ``_MEMO``; nothing
    keys state on a py4j wrapper id; ``register`` has no caching
    parameter (the plan memo decides per build whether to store), and
    QUERIES/RAW_QUERIES are one dict of fresh builds."""
    import inspect
    import pathlib
    import re

    from data_services_spark.registry import QUERIES, RAW_QUERIES, register

    pkg = pathlib.Path(__file__).resolve().parents[1] / \
        "data_services_spark"
    memos, id_keys = [], []
    for f in sorted(pkg.rglob("*.py")):
        text = f.read_text()
        rel = f.relative_to(pkg).as_posix()
        memos += [f"{rel}:{m}" for m in re.findall(
            r"^(_[A-Z_]+): dict\[.*\] = \{\}$", text, re.M)]
        if "id(spark._jsparkSession)" in text:
            id_keys.append(rel)
    assert memos == ["plans/plan_memo.py:_MEMO"]
    assert id_keys == []
    assert list(inspect.signature(register).parameters) == \
        ["name", "sql"]
    assert QUERIES is RAW_QUERIES


def test_one_path_per_operator():
    """Option-creep guard: the strategy parameters that selected a
    second code path nobody outside the tests ran stay deleted. Each
    operator has the one path every registered query runs."""
    import inspect

    from data_services_spark.operators.bpe import bpe_train
    from data_services_spark.operators.components import bfs_levels
    from data_services_spark.operators.normalize import (
        apply_node_map, apply_predicate_map)
    from data_services_spark.operators.sampling import pack_by_token_budget
    from data_services_spark.operators.similarity import semdedup_indexed
    from data_services_spark.operators.text import hashed_linear_score
    from data_services_spark.operators.windows import (
        bucket_by_leading_key, scalable_running_sum)
    from data_services_spark.plans.quality import unique
    from data_services_spark.session import configure_session
    from data_services_spark.streaming.crawl import ingest_crawl_batch
    from data_services_spark.streaming.domaincap import cap_domain_batch

    deleted = {
        semdedup_indexed: {"kernel", "block_size", "dim"},
        bucket_by_leading_key: {"balance", "bucket_alias"},
        scalable_running_sum: {"balance"},
        bpe_train: {"strict_order"},
        bfs_levels: {"checkpoint"},
        pack_by_token_budget: {"persist"},
        apply_node_map: {"broadcast"},
        apply_predicate_map: {"broadcast"},
        unique: {"approx"},
        hashed_linear_score: {"validate"},
        cap_domain_batch: {"prune_state_read"},
        ingest_crawl_batch: {"prune_state_read"},
        configure_session: {"aqe_advisory_bytes"},
    }
    found = {fn.__name__: sorted(names & set(
                 inspect.signature(fn).parameters))
             for fn, names in deleted.items()}
    assert {k: v for k, v in found.items() if v} == {}


def test_dir_data_file_sizes_recursive(tmp_path):
    """Round 14 (r13 ADVICE): nested partition subdirs are walked (the
    flat listdir counted them as ~4 KB inodes), metadata entries are
    skipped at every level, and a missing dir reports None."""
    from data_services_spark.plans.widen import dir_data_file_sizes

    d = tmp_path / "landing"
    (d / "p=1").mkdir(parents=True)
    (d / "p=1" / "part-0.parquet").write_bytes(b"x" * 1000)
    (d / "top.parquet").write_bytes(b"y" * 50)
    (d / "_spark_metadata").mkdir()
    (d / "_spark_metadata" / "0").write_bytes(b"z" * 9999)
    (d / "_SUCCESS").write_bytes(b"")
    (d / "p=1" / ".part-0.parquet.crc").write_bytes(b"c" * 11)
    assert sorted(dir_data_file_sizes(str(d))) == [50, 1000]
    assert dir_data_file_sizes(str(tmp_path / "nope")) is None


def test_release_all_slots_frees_previous_queries_cache(spark):
    """Round 14 (r13 ADVICE): building any fresh query releases every
    one-slot persist left by PREVIOUS queries — the corpus text no
    longer stays pinned for the rest of the session."""
    from data_services_spark.functions.cache import (
        persist_slot, release_all_slots)

    slot_a: list = []
    slot_b: list = []
    df_a = persist_slot(slot_a, spark.range(10))
    assert df_a.storageLevel.useMemory and slot_a
    persist_slot(slot_b, spark.range(20))
    release_all_slots()
    assert not slot_a and not slot_b
    assert not df_a.storageLevel.useMemory


def test_stream_chain_widen_gates(spark, tmp_path):
    """Round 13: the streaming chain-widen gate. None for a missing
    dir (unknown size -> leave the stream alone), None under the chain
    byte gate, cores for a large narrow dir, and None once the dir's
    estimated splits reach the core count."""
    from data_services_spark.plans.widen import (
        CHAIN_MIN_BYTES, stream_chain_widen)

    assert stream_chain_widen(spark, str(tmp_path / "missing")) is None

    small = tmp_path / "small"
    small.mkdir()
    (small / "f.parquet").write_bytes(b"x" * 1024)
    assert stream_chain_widen(spark, str(small)) is None  # under gate

    big = tmp_path / "big"
    big.mkdir()
    (big / "f.parquet").write_bytes(b"x" * (CHAIN_MIN_BYTES + 1))
    cores = spark.sparkContext.defaultParallelism
    assert stream_chain_widen(spark, str(big)) == cores

    # many files -> estimated splits >= cores -> no widen
    wide = tmp_path / "wide"
    wide.mkdir()
    per = max(1, (CHAIN_MIN_BYTES // cores) + 1)
    for i in range(cores):
        (wide / f"f{i}.parquet").write_bytes(b"x" * per)
    assert stream_chain_widen(spark, str(wide)) is None
