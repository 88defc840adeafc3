"""Structured Streaming twins == batch results on the same data
(SURVEY §2.9 T1/T3/T5)."""

from __future__ import annotations

import os
import shutil

import pytest

from data_services_spark.catalog import load_table
from data_services_spark.streaming.events import (
    read_event_stream, run_to_memory_sink, stream_dedup,
    stream_session_counts, stream_tumbling_counts,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{SF_DIR}/events.parquet", d / "events.parquet")
    return str(d)


def test_stream_tumbling_equals_batch(spark, events_dir):
    stream = read_event_stream(spark, events_dir)
    got = run_to_memory_sink(
        stream_tumbling_counts(stream), "t1_sink").collect()
    batch = load_table(spark, SF_DIR, "events")
    from data_services_spark.operators.windows import tumbling
    import pyspark.sql.functions as F
    from data_services_spark.functions.numeric import dsum

    want = tumbling(batch, "ts", "1 hour", ["event_type"],
                    F.count(F.lit(1)).alias("n"),
                    dsum("value", "sum_value")).collect()
    # append mode only emits windows the final watermark closed: the last
    # in-flight window is (correctly) withheld — compare below the cutoff.
    import datetime as dt

    max_ts = batch.agg(F.max("ts")).head()[0]
    cutoff = max_ts - dt.timedelta(minutes=70)  # window size + watermark
    gset = {(r["window_start"], r["event_type"], r["n"], r["sum_value"])
            for r in got if r["window_start"] <= cutoff}
    wset = {(dt.datetime.utcfromtimestamp(r["window_start_ms"] / 1000),
             r["event_type"], r["n"], r["sum_value"])
            for r in want
            if dt.datetime.utcfromtimestamp(r["window_start_ms"] / 1000)
            <= cutoff}
    assert gset and gset == wset


def test_stream_sessions_run(spark, events_dir):
    stream = read_event_stream(spark, events_dir)
    got = run_to_memory_sink(stream_session_counts(stream), "t3_sink")
    assert got.count() > 0


def test_stream_dedup_drops_replays(spark, events_dir, tmp_path):
    # write the same file twice into the stream dir -> every event replayed
    d = tmp_path / "dup_stream"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", d / "a.parquet")
    shutil.copy(f"{SF_DIR}/events.parquet", d / "b.parquet")
    stream = read_event_stream(spark, str(d))
    got = run_to_memory_sink(stream_dedup(stream), "t5_sink")
    batch_n = load_table(spark, SF_DIR, "events").count()
    assert got.count() == batch_n


def test_stateful_user_totals_equals_batch(spark, events_dir):
    """applyInPandasWithState running totals == batch groupBy after drain."""
    import pyspark.sql.functions as F

    from data_services_spark.streaming.events import run_to_memory_sink
    from data_services_spark.streaming.stateful import stream_user_totals

    stream = read_event_stream(spark, events_dir)
    out = run_to_memory_sink(stream_user_totals(stream),
                             "stateful_totals", output_mode="update")
    # keep the LAST emitted row per user (running totals grow per batch)
    final = (out.groupBy("user_id")
             .agg(F.max("n_events").alias("n_events"),
                  F.max("total_value_micros").alias("total_value_micros"),
                  F.max("last_ts_ms").alias("last_ts_ms")))

    from data_services_spark.catalog import load_table
    ev = load_table(spark, SF_DIR, "events")
    batch = (ev.groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.sum(F.round(F.col("value") * 1000000).cast("long"))
                   .alias("total_value_micros"),
                  (F.max(F.unix_micros(F.col("ts").cast("timestamp")))
                   / F.lit(1000)).cast("long").alias("last_ts_ms")))
    got = {r.user_id: (r.n_events, r.total_value_micros, r.last_ts_ms)
           for r in final.collect()}
    want = {r.user_id: (r.n_events, r.total_value_micros, r.last_ts_ms)
            for r in batch.collect()}
    assert got == want


def test_tws_user_totals_equals_batch_and_apply(spark, events_dir):
    """transformWithStateInPandas (named ValueState, RocksDB-backed) ==
    batch groupBy after drain. The TWS state server speaks protobuf to
    the JVM — absent in this sandbox, present on standard cluster
    images, so the runtime half skips itself here (the operator's plan
    construction is still exercised below either way)."""
    import pyspark.sql.functions as F

    from data_services_spark.streaming.stateful import stream_user_totals_tws

    # plan construction must always work (API surface + schema wiring)
    stream0 = read_event_stream(spark, events_dir)
    out0 = stream_user_totals_tws(stream0)
    assert out0.isStreaming and set(out0.columns) == {
        "user_id", "n_events", "total_value_micros", "last_ts_ms"}

    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState runtime needs the protobuf package")

    from data_services_spark.streaming.events import run_to_memory_sink

    provider_conf = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_conf, None)
    spark.conf.set(provider_conf, "org.apache.spark.sql.execution."
                   "streaming.state.RocksDBStateStoreProvider")
    try:
        stream = read_event_stream(spark, events_dir)
        out = run_to_memory_sink(stream_user_totals_tws(stream),
                                 "tws_totals", output_mode="update")
    finally:
        if prev is None:
            spark.conf.unset(provider_conf)
        else:
            spark.conf.set(provider_conf, prev)
    final = (out.groupBy("user_id")
             .agg(F.max("n_events").alias("n_events"),
                  F.max("total_value_micros").alias("total_value_micros"),
                  F.max("last_ts_ms").alias("last_ts_ms")))

    from data_services_spark.catalog import load_table
    ev = load_table(spark, SF_DIR, "events")
    batch = (ev.groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.sum(F.round(F.col("value") * 1000000).cast("long"))
                   .alias("total_value_micros"),
                  (F.max(F.unix_micros(F.col("ts").cast("timestamp")))
                   / F.lit(1000)).cast("long").alias("last_ts_ms")))
    got = {r.user_id: (r.n_events, r.total_value_micros, r.last_ts_ms)
           for r in final.collect()}
    want = {r.user_id: (r.n_events, r.total_value_micros, r.last_ts_ms)
            for r in batch.collect()}
    assert got == want


def test_stream_merge_nodes_equals_batch_merge(spark, tmp_path):
    """foreachBatch incremental KGX merge == from-scratch batch merge,
    regardless of which batch each source arrives in."""
    import pyspark.sql.functions as F

    from data_services_spark.operators.merge import merge_nodes
    from data_services_spark.streaming.ingest import (
        read_merged_state, stream_merge_nodes,
    )

    NODES = "id string, name string, category array<string>, source_rank int"
    rows1 = [("X:1", None, ["c1"], 1), ("X:2", "two", ["c2"], 1)]
    rows2 = [("X:1", "one-late", ["c3"], 2), ("X:3", "three", [], 2)]
    src = tmp_path / "incoming"
    src.mkdir()
    spark.createDataFrame(rows1, NODES).coalesce(1).write.parquet(
        str(src / "batch1"))
    spark.createDataFrame(rows2, NODES).coalesce(1).write.parquet(
        str(src / "batch2"))

    stream = (spark.readStream.schema(NODES)
              .option("maxFilesPerTrigger", 1)
              .parquet(f"{src}/batch*/"))
    q = stream_merge_nodes(stream, str(tmp_path / "state"),
                           str(tmp_path / "ckpt"))
    q.awaitTermination()

    got = {r.id: (r.name, r.category, r.n_merged)
           for r in read_merged_state(spark, str(tmp_path / "state"))
           .collect()}
    both = spark.createDataFrame(rows1 + rows2, NODES)
    want = {r.id: (r.name, r.category, r.n_merged)
            for r in merge_nodes(both).collect()}
    assert got == want
    # the rank-1-null scalar fell through to the rank-2 value
    assert got["X:1"][0] == "one-late"


def test_ingest_orphaned_generation_is_ignored(spark, tmp_path):
    """A generation written but never committed (crash before pointer
    swap) must not be read back."""
    from data_services_spark.streaming.ingest import (
        merge_upsert_batch, read_merged_state,
    )

    NODES = "id string, name string, category array<string>, source_rank int"
    state = tmp_path / "state"
    state.mkdir()
    b1 = spark.createDataFrame([("X:1", "one", ["c"], 1)], NODES)
    merge_upsert_batch(spark, b1, str(state), batch_id=0)

    # simulate a crash: gen=1 parquet lands but _CURRENT never moves
    b2 = spark.createDataFrame([("X:1", "CLOBBER", ["d"], 1)], NODES)
    from data_services_spark.streaming.ingest import _to_stateful
    _to_stateful(b2, ("name",), ("category",), "source_rank") \
        .write.parquet(str(state / "gen=1"))

    got = read_merged_state(spark, str(state)).collect()
    assert [(r.id, r.name) for r in got] == [("X:1", "one")]


def test_ingest_retry_of_committed_batch_is_noop(spark, tmp_path):
    """foreachBatch is at-least-once: re-running an already-committed
    batch_id (crash between pointer swap and checkpoint commit) must be a
    no-op — no double-counted merges, no read-overwrite wedge."""
    from data_services_spark.streaming.ingest import (
        merge_upsert_batch, read_merged_state,
    )

    NODES = "id string, name string, category array<string>, source_rank int"
    state = tmp_path / "state"
    state.mkdir()
    b0 = spark.createDataFrame([("X:1", "one", ["c"], 1)], NODES)
    merge_upsert_batch(spark, b0, str(state), batch_id=0)
    b1 = spark.createDataFrame([("X:1", None, ["d"], 2)], NODES)
    merge_upsert_batch(spark, b1, str(state), batch_id=1)
    before = {(r.id, r.name, r.n_merged)
              for r in read_merged_state(spark, str(state)).collect()}
    assert before == {("X:1", "one", 2)}

    # retry the committed batch: state must be unchanged (not n_merged=3)
    merge_upsert_batch(spark, b1, str(state), batch_id=1)
    after = {(r.id, r.name, r.n_merged)
             for r in read_merged_state(spark, str(state)).collect()}
    assert after == before


def test_ingest_rewrites_only_touched_buckets(spark, tmp_path):
    """Incremental state is bucketed by id hash: a batch must rewrite
    only the buckets its ids land in, leave every other bucket's files
    byte-identical (not copied, not rewritten), and still equal the
    from-scratch batch merge."""
    import hashlib
    import os

    from data_services_spark.operators.merge import merge_nodes
    from data_services_spark.streaming.ingest import (
        _bucket_col, merge_upsert_batch, read_merged_state,
    )

    NODES = "id string, name string, category array<string>, source_rank int"
    state = tmp_path / "state"
    state.mkdir()
    ids = [f"X:{i}" for i in range(8)]
    b0 = spark.createDataFrame([(i, f"n{i}", ["c"], 1) for i in ids], NODES)
    merge_upsert_batch(spark, b0, str(state), batch_id=0, num_buckets=4)

    bk = {r.id: r.b
          for r in spark.createDataFrame([(i,) for i in ids], "id string")
          .select("id", _bucket_col(4).alias("b")).collect()}
    touched_id = ids[0]
    tb = bk[touched_id]
    untouched = sorted(set(bk.values()) - {tb})
    assert untouched, "fixture needs ids spanning >=2 buckets"

    def snap():
        out = {}
        for root, _, files in os.walk(state):
            for f in files:
                p = os.path.join(root, f)
                with open(p, "rb") as fh:
                    out[p] = (os.path.getsize(p),
                              hashlib.md5(fh.read()).hexdigest())
        return out

    before = snap()
    b1 = spark.createDataFrame([(touched_id, None, ["d"], 2)], NODES)
    merge_upsert_batch(spark, b1, str(state), batch_id=1, num_buckets=4)
    after = snap()

    untouched_files = [
        p for p in before if "gen=0" in p
        and any(f"__bucket={b}" in p for b in untouched)]
    assert untouched_files
    for p in untouched_files:
        assert after[p] == before[p], f"untouched bucket file rewritten: {p}"

    gen1 = sorted(d for d in os.listdir(state / "gen=1")
                  if d.startswith("__bucket="))
    assert gen1 == [f"__bucket={tb}"]

    both = b0.unionByName(b1)
    want = {r.id: (r.name, r.category, r.n_merged)
            for r in merge_nodes(both).collect()}
    got = {r.id: (r.name, r.category, r.n_merged)
           for r in read_merged_state(spark, str(state)).collect()}
    assert got == want


def test_vacuum_preserves_concurrent_reader_snapshot(spark, tmp_path):
    """Reader isolation across commit + retention sweep: a reader that
    resolved the manifest BEFORE a later commit must still be able to
    collect its snapshot after that commit AND a vacuum_state(keep_last=2)
    — the sweep may only delete generations outside the retention
    window."""
    import os

    from data_services_spark.streaming.ingest import (
        merge_upsert_batch, read_merged_state, vacuum_state,
    )

    NODES = "id string, name string, category array<string>, source_rank int"
    state = tmp_path / "state"
    state.mkdir()
    ids = [f"X:{i}" for i in range(6)]
    for bid in range(3):
        b = spark.createDataFrame(
            [(i, f"n{bid}", [f"c{bid}"], bid + 1) for i in ids], NODES)
        merge_upsert_batch(spark, b, str(state), batch_id=bid, num_buckets=2)

    # reader resolves the gen=2 manifest NOW; collection happens later
    snapshot = read_merged_state(spark, str(state))
    want = {(r.id, r.name, r.n_merged) for r in snapshot.collect()}
    assert want == {(i, "n0", 3) for i in ids}  # rank 1 wins, 3 merges

    # a newer commit supersedes every bucket, then the sweep runs
    b3 = spark.createDataFrame([(i, "late", ["d"], 9) for i in ids], NODES)
    merge_upsert_batch(spark, b3, str(state), batch_id=3, num_buckets=2)
    deleted = vacuum_state(str(state), keep_last=2)

    # keep_last=2 retains the gen referenced by the reader's manifest
    # (gen=2) and the current one; gens 0/1 are superseded and swept
    assert all("gen=2" not in p and "gen=3" not in p for p in deleted)
    got = {(r.id, r.name, r.n_merged) for r in snapshot.collect()}
    assert got == want, "reader snapshot broken by vacuum"

    # current state reflects the late batch; old gens are gone from disk
    now = {(r.id, r.n_merged)
           for r in read_merged_state(spark, str(state)).collect()}
    assert now == {(i, 4) for i in ids}
    gens = sorted(d for d in os.listdir(state) if d.startswith("gen="))
    assert "gen=0" not in gens and "gen=1" not in gens

    # a second sweep with keep_last=1 may now drop gen=2 as well
    deleted2 = vacuum_state(str(state), keep_last=1)
    assert any("gen=2" in p for p in deleted2)
    assert sorted(d for d in os.listdir(state)
                  if d.startswith("gen=")) == ["gen=3"]


def test_stream_merge_edges_equals_batch_merge(spark, tmp_path):
    """A2 streaming twin: incremental edge merge on the composite KGX
    edge key == from-scratch batch merge_edges."""
    from data_services_spark.operators.merge import merge_edges
    from data_services_spark.streaming.ingest import (
        read_merged_state, stream_merge_edges,
    )

    EDGES = ("subject string, predicate string, object string, "
             "primary_knowledge_source string, publications array<string>, "
             "aggregator_knowledge_sources array<string>, source_rank int")
    rows1 = [("a", "rel", "b", "ks1", ["p1"], ["agg1"], 1),
             ("a", "rel", "c", "ks1", ["p2"], [], 1)]
    rows2 = [("a", "rel", "b", "ks1", ["p3"], ["agg2"], 2),
             ("x", "rel", "y", "ks2", [], ["agg3"], 2)]
    src = tmp_path / "edges_in"
    src.mkdir()
    spark.createDataFrame(rows1, EDGES).coalesce(1).write.parquet(
        str(src / "b1"))
    spark.createDataFrame(rows2, EDGES).coalesce(1).write.parquet(
        str(src / "b2"))

    stream = (spark.readStream.schema(EDGES)
              .option("maxFilesPerTrigger", 1).parquet(f"{src}/b*/"))
    q = stream_merge_edges(stream, str(tmp_path / "estate"),
                           str(tmp_path / "eckpt"))
    q.awaitTermination()

    key = lambda r: (r.subject, r.predicate, r.object,
                     r.primary_knowledge_source)
    got = {key(r): (r.publications, r.aggregator_knowledge_sources,
                    r.n_merged)
           for r in read_merged_state(
               spark, str(tmp_path / "estate")).collect()}
    both = spark.createDataFrame(rows1 + rows2, EDGES)
    want = {key(r): (r.publications, r.aggregator_knowledge_sources,
                     r.n_merged)
            for r in merge_edges(both).collect()}
    assert got == want
    assert got[("a", "rel", "b", "ks1")] == (["p1", "p3"],
                                             ["agg1", "agg2"], 2)


def test_stream_interval_join_equals_batch(spark, events_dir):
    import pyspark.sql.functions as F

    from data_services_spark.streaming.events import stream_interval_join

    stream = read_event_stream(spark, events_dir)
    views = stream.filter(F.col("event_type") == "view")
    purchases = stream.filter(F.col("event_type") == "purchase")
    got = run_to_memory_sink(
        stream_interval_join(views, purchases), "tjoin_sink").collect()

    e = load_table(spark, SF_DIR, "events")
    bv = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"), F.col("ts").alias("v_ts"))
    bp = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"))
    batch = (bp.join(bv, (F.col("v_user") == F.col("user_id"))
                     & (F.col("v_ts") <= F.col("p_ts"))
                     & (F.col("v_ts") >= F.col("p_ts")
                        - F.expr("INTERVAL 1 hour")))
             .select("user_id", "purchase_id", "view_id",
                     (F.unix_micros(F.col("p_ts").cast("timestamp"))
                      - F.unix_micros(F.col("v_ts").cast("timestamp")))
                     .cast("long").alias("gap_us"))).collect()
    key = lambda r: (r.user_id, r.purchase_id, r.view_id, r.gap_us)
    assert len(got) > 0
    assert sorted(map(key, got)) == sorted(map(key, batch))


def test_streaming_incremental_rollup_equals_batch(spark, tmp_path):
    """Streaming materialized view: foreachBatch folds each micro-batch
    into a persisted aggregate state via merge_agg_state (base facts
    never rescanned); after the stream drains, the state table equals
    the one-shot batch GROUP BY over everything that streamed."""
    import pyspark.sql.functions as F

    from data_services_spark.operators.incremental import (
        agg_state, merge_agg_state)

    src = tmp_path / "stream_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src / "a.parquet")
    shutil.copy(f"{SF_DIR}/events.parquet", src / "b.parquet")
    state_root = tmp_path / "state"
    specs = {"n": ("count", "*"), "qsum": ("sum", "q"),
             "vmin": ("min", "value"), "vmax": ("max", "value")}

    def prep(df):
        return df.select(
            "user_id", "value",
            F.round(F.col("value") * 1000000).cast("long").alias("q"))

    def fold(batch_df, batch_id):
        gens = sorted(int(p.name) for p in state_root.iterdir()) \
            if state_root.exists() else []
        delta = prep(batch_df)
        if gens:
            prev = spark.read.parquet(str(state_root / str(gens[-1])))
            out = merge_agg_state(prev, delta, ["user_id"], specs)
        else:
            out = agg_state(delta, ["user_id"], specs)
        out.write.parquet(str(state_root / str(batch_id)))

    stream = read_event_stream(spark, str(src), max_files_per_trigger=1)
    q = (stream.writeStream.foreachBatch(fold)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    gens = sorted(int(p.name) for p in state_root.iterdir())
    assert len(gens) >= 2  # maxFilesPerTrigger=1 -> one fold per file
    final = spark.read.parquet(str(state_root / str(gens[-1])))
    want = agg_state(prep(spark.read.parquet(str(src))),
                     ["user_id"], specs)
    assert sorted(map(tuple, final.collect()), key=repr) == \
           sorted(map(tuple, want.collect()), key=repr)


def test_writer_lease_second_writer_fails_fast(spark, tmp_path):
    """While one writer holds the lease, a concurrent merge must raise
    immediately and leave the committed state byte-identical — the
    single-writer guard for the generational commit protocol."""
    import hashlib
    import os

    from data_services_spark.streaming.ingest import (
        acquire_writer_lease, merge_upsert_batch, read_merged_state,
        release_writer_lease,
    )

    NODES = "id string, name string, category array<string>, source_rank int"
    state = tmp_path / "state"
    b0 = spark.createDataFrame([("X:1", "one", ["c"], 1)], NODES)
    merge_upsert_batch(spark, b0, str(state), batch_id=0)

    def state_bytes():
        out = {}
        for root, _, files in os.walk(state):
            for f in files:
                p = os.path.join(root, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, state)] = \
                        hashlib.md5(fh.read()).hexdigest()
        return out

    token = acquire_writer_lease(str(state))  # writer A mid-merge
    before = state_bytes()
    b1 = spark.createDataFrame([("X:2", "two", ["d"], 1)], NODES)
    with pytest.raises(RuntimeError, match="another writer"):
        merge_upsert_batch(spark, b1, str(state), batch_id=1)
    after = state_bytes()
    # nothing written, nothing deleted — lease file aside, byte-identical
    assert {k: v for k, v in after.items() if "_WRITER_LEASE" not in k} \
        == {k: v for k, v in before.items() if "_WRITER_LEASE" not in k}
    rows = {(r.id, r.name) for r in
            read_merged_state(spark, str(state)).collect()}
    assert rows == {("X:1", "one")}

    release_writer_lease(str(state), token)  # writer A done
    merge_upsert_batch(spark, b1, str(state), batch_id=1)  # B now succeeds
    rows = {(r.id, r.name) for r in
            read_merged_state(spark, str(state)).collect()}
    assert rows == {("X:1", "one"), ("X:2", "two")}


def test_writer_lease_stale_takeover_and_release_safety(spark, tmp_path):
    """A lease whose TTL expired (writer died) is taken over exactly
    once; the dead writer's late release must NOT remove the new
    holder's lease."""
    from data_services_spark.streaming.ingest import (
        acquire_writer_lease, merge_upsert_batch, read_merged_state,
        release_writer_lease,
    )

    NODES = "id string, name string, category array<string>, source_rank int"
    state = tmp_path / "state"
    dead = acquire_writer_lease(str(state), ttl_seconds=-1)  # born stale
    # takeover path: the merge acquires through the expired lease
    b0 = spark.createDataFrame([("X:1", "one", ["c"], 1)], NODES)
    merge_upsert_batch(spark, b0, str(state), batch_id=0)
    assert {(r.id, r.name) for r in
            read_merged_state(spark, str(state)).collect()} \
        == {("X:1", "one")}

    live = acquire_writer_lease(str(state))
    release_writer_lease(str(state), dead)  # late release: must be a no-op
    with pytest.raises(RuntimeError, match="another writer"):
        acquire_writer_lease(str(state))
    release_writer_lease(str(state), live)
    # and a double release is harmless
    release_writer_lease(str(state), live)


def test_writer_lease_lost_mid_merge_refuses_commit(spark, tmp_path):
    """Round-5 advisor: the lease has a TTL but no renewal heartbeat, so
    a merge outrunning ttl_seconds lets a second writer legitimately
    take over MID-MERGE. The first writer's commit must then fail loudly
    at the _CURRENT swap (token re-checked under the lease mutex) and
    leave the committed pointer untouched — never silently race the
    usurper's manifest."""
    from data_services_spark.streaming.ingest import (
        _merge_upsert_locked, acquire_writer_lease, merge_upsert_batch,
        read_merged_state,
    )

    NODES = "id string, name string, category array<string>, source_rank int"
    state = tmp_path / "state"
    b0 = spark.createDataFrame([("X:1", "one", ["c"], 1)], NODES)
    merge_upsert_batch(spark, b0, str(state), batch_id=0)

    # Writer A acquires with a TTL its merge will outrun (born stale),
    # then writer B takes over while A is "still merging".
    a_token = acquire_writer_lease(str(state), ttl_seconds=-1)
    b_token = acquire_writer_lease(str(state))  # legitimate takeover
    assert a_token != b_token

    b1 = spark.createDataFrame([("X:2", "two", ["d"], 1)], NODES)
    with pytest.raises(RuntimeError, match="lost mid-merge"):
        # A's merge body reaching its commit with A's stale token
        _merge_upsert_locked(spark, b1, str(state), batch_id=1,
                             scalar_props=("name",),
                             list_props=("category",),
                             rank_col="source_rank", num_buckets=16,
                             key_cols=("id",), lease_token=a_token)
    # committed state still generation 0, B's view intact
    assert {(r.id, r.name) for r in
            read_merged_state(spark, str(state)).collect()} \
        == {("X:1", "one")}
    # and B (the rightful holder) commits the batch fine
    _merge_upsert_locked(spark, b1, str(state), batch_id=1,
                         scalar_props=("name",), list_props=("category",),
                         rank_col="source_rank", num_buckets=16,
                         key_cols=("id",), lease_token=b_token)
    assert {(r.id, r.name) for r in
            read_merged_state(spark, str(state)).collect()} \
        == {("X:1", "one"), ("X:2", "two")}


def test_writer_lease_concurrent_acquirers_one_wins(tmp_path):
    """N threads race acquisition (fresh and stale-takeover): exactly one
    wins each round — the rename-based takeover cannot split-brain."""
    import threading

    from data_services_spark.streaming.ingest import (
        acquire_writer_lease, release_writer_lease,
    )

    state = str(tmp_path / "state")
    for round_no, prelease in enumerate((None, -1)):
        if prelease is not None:  # seed an expired lease to contend over
            acquire_writer_lease(state, ttl_seconds=prelease)
        wins, errs = [], []
        barrier = threading.Barrier(8)

        def race():
            barrier.wait()
            try:
                wins.append(acquire_writer_lease(state))
            except RuntimeError:
                errs.append(1)

        threads = [threading.Thread(target=race) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert len(wins) == 1 and len(errs) == 7, (round_no, wins, errs)
        release_writer_lease(state, wins[0])


def test_time_travel_reads_and_vacuum_retention(spark, tmp_path):
    """generation=N reconstructs each historical snapshot exactly from
    the archived manifests; snapshots beyond vacuum retention fail with
    a clear error instead of a silent partial read."""
    from data_services_spark.streaming.ingest import (
        merge_upsert_batch, read_merged_state, vacuum_state,
    )

    NODES = "id string, name string, category array<string>, source_rank int"
    state = tmp_path / "state"
    batches = [
        [("X:1", "one", ["a"], 1)],
        [("X:1", None, ["b"], 2), ("X:2", "two", ["c"], 1)],
        [("X:2", "TWO", ["d"], 0)],
    ]
    for i, rows in enumerate(batches):
        merge_upsert_batch(spark, spark.createDataFrame(rows, NODES),
                           str(state), batch_id=i)

    def snap(gen=None):
        return {(r.id, r.name, tuple(r.category)) for r in
                read_merged_state(spark, str(state),
                                  generation=gen).collect()}

    assert snap(0) == {("X:1", "one", ("a",))}
    assert snap(1) == {("X:1", "one", ("a", "b")), ("X:2", "two", ("c",))}
    want_now = {("X:1", "one", ("a", "b")), ("X:2", "TWO", ("c", "d"))}
    assert snap(2) == want_now == snap()

    # retention: keep the last 2 manifests; gen 0 ages out
    vacuum_state(str(state), keep_last=2)
    assert snap(2) == want_now  # current still byte-readable
    assert snap(1) == {("X:1", "one", ("a", "b")), ("X:2", "two", ("c",))}
    with pytest.raises(FileNotFoundError, match="generation 0"):
        snap(0)


def test_schema_evolution_new_prop_mid_stream(spark, tmp_path):
    """A batch may introduce a scalar prop the accumulated state never
    saw: missing sides fill NULL, null ranks never win min_by, and the
    incremental result equals a from-scratch merge over all batches."""
    import pyspark.sql.functions as F

    from data_services_spark.operators.merge import merge_nodes
    from data_services_spark.streaming.ingest import (
        merge_upsert_batch, read_merged_state,
    )

    V1 = "id string, name string, category array<string>, source_rank int"
    V2 = ("id string, name string, symbol string, "
          "category array<string>, source_rank int")
    state = tmp_path / "state"
    b0 = spark.createDataFrame(
        [("X:1", "one", ["a"], 2), ("X:2", "two", ["b"], 1)], V1)
    b1 = spark.createDataFrame(
        [("X:1", "ONE", "S1", ["c"], 1),      # better rank wins name+symbol
         ("X:3", "three", "S3", ["d"], 1)], V2)
    merge_upsert_batch(spark, b0, str(state), batch_id=0,
                       scalar_props=("name",))
    merge_upsert_batch(spark, b1, str(state), batch_id=1,
                       scalar_props=("name", "symbol"))
    got = {(r.id, r.name, r.symbol, tuple(r.category)) for r in
           read_merged_state(spark, str(state)).collect()}
    # from-scratch equivalent over the union (missing symbol -> NULL)
    scratch = merge_nodes(
        b0.withColumn("symbol", F.lit(None).cast("string"))
        .unionByName(b1),
        scalar_props=("name", "symbol"))
    want = {(r.id, r.name, r.symbol, tuple(r.category)) for r in
            scratch.collect()}
    assert got == want
    assert ("X:2", "two", None, ("b",)) in got
    assert ("X:1", "ONE", "S1", ("a", "c")) in got


def test_state_changes_cdc_between_generations(spark, tmp_path):
    from data_services_spark.streaming.ingest import (
        merge_upsert_batch, state_changes,
    )

    NODES = "id string, name string, category array<string>, source_rank int"
    state = tmp_path / "state"
    merge_upsert_batch(spark, spark.createDataFrame(
        [("X:1", "one", ["a"], 1), ("X:2", "two", ["b"], 1)], NODES),
        str(state), batch_id=0)
    merge_upsert_batch(spark, spark.createDataFrame(
        [("X:2", None, ["b2"], 2),            # list grows -> changed
         ("X:3", "three", ["c"], 1)], NODES),  # added
        str(state), batch_id=1)
    got = {(r.id, r.change) for r in
           state_changes(spark, str(state), 0, 1).collect()}
    assert got == {("X:2", "changed"), ("X:3", "added")}
    # reversed direction reads as removal
    rev = {(r.id, r.change) for r in
           state_changes(spark, str(state), 1, 0).collect()}
    assert rev == {("X:2", "changed"), ("X:3", "removed")}


def test_state_changes_ignores_invisible_rank_improvements(spark, tmp_path):
    """A re-confirmation from a higher-priority source improves internal
    ranks without changing the visible record (n_merged aside) — CDC
    must flag it only because n_merged moved, and a truly identical
    snapshot pair yields no rows."""
    from data_services_spark.streaming.ingest import (
        merge_upsert_batch, state_changes,
    )

    NODES = "id string, name string, category array<string>, source_rank int"
    state = tmp_path / "state"
    merge_upsert_batch(spark, spark.createDataFrame(
        [("X:1", "one", ["a"], 2)], NODES), str(state), batch_id=0)
    # empty batch: generation advances, nothing rewrites
    merge_upsert_batch(
        spark,
        spark.createDataFrame([], NODES),
        str(state), batch_id=1)
    assert state_changes(spark, str(state), 0, 1).count() == 0


def test_snapshot_pin_survives_vacuum_and_releases(spark, tmp_path):
    """A live pin holds its generation (data AND archived manifest)
    through vacuum_state regardless of keep_last; releasing the pin
    lets the next vacuum collect it; an expired pin is garbage-collected
    in passing and stops protecting anything."""
    from data_services_spark.streaming.ingest import (
        merge_upsert_batch, pin_snapshot, read_merged_state,
        release_snapshot_pin, vacuum_state,
    )

    NODES = "id string, name string, category array<string>, source_rank int"
    state = tmp_path / "state"
    for k in range(4):
        merge_upsert_batch(
            spark,
            spark.createDataFrame([(f"X:{k}", f"name-{k}", ["c"], 1)],
                                  NODES),
            str(state), batch_id=k, num_buckets=4)
    pin = pin_snapshot(str(state), generation=1)
    assert pin["gen"] == 1
    vacuum_state(str(state), keep_last=1)
    got = {(r.id, r.name) for r in
           read_merged_state(spark, str(state), generation=1).collect()}
    assert got == {("X:0", "name-0"), ("X:1", "name-1")}, \
        "pinned snapshot must stay byte-readable through vacuum"
    release_snapshot_pin(str(state), pin["pin_id"])
    vacuum_state(str(state), keep_last=1)
    with pytest.raises(FileNotFoundError):
        read_merged_state(spark, str(state), generation=1)
    # expired pin: collected in passing, protects nothing
    merge_upsert_batch(
        spark,
        spark.createDataFrame([("X:9", "name-9", ["c"], 1)], NODES),
        str(state), batch_id=4, num_buckets=4)
    dead = pin_snapshot(str(state), generation=3, ttl_seconds=-1)
    vacuum_state(str(state), keep_last=1)
    import os
    assert not os.path.exists(os.path.join(
        str(state), "_pins", f"{dead['pin_id']}.json"))
    with pytest.raises(FileNotFoundError):
        read_merged_state(spark, str(state), generation=3)


def test_pinned_snapshot_scope(spark, tmp_path):
    from data_services_spark.streaming.ingest import (
        merge_upsert_batch, pinned_snapshot, vacuum_state,
    )

    NODES = "id string, name string, category array<string>, source_rank int"
    state = tmp_path / "state"
    merge_upsert_batch(
        spark, spark.createDataFrame([("X:0", "zero", ["c"], 1)], NODES),
        str(state), batch_id=0, num_buckets=4)
    with pinned_snapshot(spark, str(state)) as snap:
        assert snap.gen == 0
        merge_upsert_batch(
            spark,
            spark.createDataFrame([("X:1", "one", ["c"], 1)], NODES),
            str(state), batch_id=1, num_buckets=4)
        vacuum_state(str(state), keep_last=1)
        got = {(r.id, r.name) for r in snap.df.collect()}
        assert got == {("X:0", "zero")}  # still generation 0's view


_READER_SCRIPT = r'''
import json, os, sys, time
sys.path.insert(0, @REPO@)
import pyarrow.dataset as ds
from data_services_spark.streaming.ingest import (
    _bucket_paths, _pinned_manifest, pin_snapshot, release_snapshot_pin,
)

state_dir, done_flag, out_path = sys.argv[1:4]
observed, errors = set(), []
while True:
    done = os.path.exists(done_flag)
    try:
        pin = pin_snapshot(state_dir, ttl_seconds=120)
    except FileNotFoundError:
        if done:
            break
        time.sleep(0.02)
        continue
    try:
        gen = pin["gen"]
        manifest = _pinned_manifest(state_dir, gen)
        paths = _bucket_paths(state_dir, manifest)
        tbl = ds.dataset([ds.dataset(p, format="parquet")
                          for p in paths]).to_table(
            columns=["id", "name"])
        got = dict(zip(tbl.column("id").to_pylist(),
                       tbl.column("name").to_pylist()))
        want = {f"X:{j}": f"name-{j}" for j in range(gen + 1)}
        want["MUT"] = f"v{gen}"
        if got != want:
            errors.append(
                f"TORN at gen {gen}: missing={sorted(set(want)-set(got))} "
                f"extra={sorted(set(got)-set(want))} "
                f"wrong={[k for k in want if k in got and got[k]!=want[k]]}")
        observed.add(gen)
    except Exception as e:  # noqa: BLE001
        errors.append(f"gen {pin['gen']}: {type(e).__name__}: {e}")
    finally:
        release_snapshot_pin(state_dir, pin["pin_id"])
    if done:
        break
    time.sleep(0.02)
with open(out_path, "w") as fh:
    json.dump({"observed": sorted(observed), "errors": errors}, fh)
sys.exit(1 if errors else 0)
'''


def test_multiwriter_handoff_concurrent_readers_never_torn(spark, tmp_path):
    """Round-5 verdict ask #5, the snapshot-isolation capstone: two
    writers ALTERNATE lease acquisition committing generations (vacuum
    after every commit, keep_last=1 — retention as hostile as it gets)
    while two reader SUBPROCESSES continuously pin snapshots and verify,
    via an independent parquet reader (pyarrow, no Spark), that every
    observed generation is exactly its expected content — the full id
    set for that generation and the per-generation winner of a
    contended key. Any torn read (bucket mix across generations),
    vacuumed-under-reader file, or wrong merge winner fails the reader.
    Writers run in this process because each merge needs the Spark
    session; the reader/writer interleaving is genuinely cross-process.
    """
    import json
    import subprocess
    import sys as _sys

    from data_services_spark.streaming.ingest import (
        _merge_upsert_locked, acquire_writer_lease, release_writer_lease,
        vacuum_state,
    )

    NODES = "id string, name string, category array<string>, source_rank int"
    state = tmp_path / "state"
    done_flag = tmp_path / "DONE"
    script = tmp_path / "reader.py"
    script.write_text(_READER_SCRIPT.replace(
        "@REPO@", repr(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))))))

    # generation 0 exists before readers start
    def write_batch(k: int, owner: str):
        token = acquire_writer_lease(str(state), owner=owner)
        try:
            batch = spark.createDataFrame(
                [(f"X:{k}", f"name-{k}", ["c"], 1),
                 ("MUT", f"v{k}", ["c"], 100 - k)], NODES)
            _merge_upsert_locked(
                spark, batch, str(state), batch_id=k,
                scalar_props=("name",), list_props=("category",),
                rank_col="source_rank", num_buckets=4,
                key_cols=("id",), lease_token=token)
        finally:
            release_writer_lease(str(state), token)

    write_batch(0, "writer-A")
    readers = [
        subprocess.Popen(
            [_sys.executable, str(script), str(state),
             str(done_flag), str(tmp_path / f"reader{i}.json")])
        for i in range(2)
    ]
    try:
        for k in range(1, 7):
            write_batch(k, "writer-A" if k % 2 else "writer-B")
            vacuum_state(str(state), keep_last=1)
    finally:
        done_flag.touch()
        rcs = [p.wait(timeout=120) for p in readers]
    reports = [json.loads((tmp_path / f"reader{i}.json").read_text())
               for i in range(2)]
    for rc, rep in zip(rcs, reports):
        assert rc == 0 and not rep["errors"], rep["errors"][:3]
    seen = set().union(*(rep["observed"] for rep in reports))
    assert seen, "readers never observed a generation"


def _utime_tree(path, ts: float) -> None:
    import os

    for root, _dirs, files in os.walk(path):
        for f in files:
            os.utime(os.path.join(root, f), (ts, ts))


def test_stream_dedup_near_cross_batch(spark, tmp_path):
    """Incremental near-dup dedup: duplicates are caught within a batch
    AND across batches via the persisted band state; first arrival wins
    and the state only grows with kept documents' bands."""
    import time

    from data_services_spark.streaming.ingest import read_merged_state
    from data_services_spark.streaming.neardup import (
        read_decisions, stream_dedup_near,
    )

    DOCS = "doc_id long, text string"
    t_a = "the quick brown fox jumps over the lazy dog again and again"
    t_b = "completely different words about streaming state machinery"
    t_c = "a third unique document concerning winnowing and minhash"
    batches = [
        [(1, t_a), (2, t_a), (3, t_b)],   # 2 = in-batch dup of 1
        [(4, t_a), (5, t_c)],             # 4 = corpus dup of 1
        [(6, t_c), (7, t_b)],             # 6 dup of 5, 7 dup of 3
    ]
    src = tmp_path / "incoming"
    src.mkdir()
    now = time.time()
    for i, rows in enumerate(batches):
        d = src / f"batch{i}"
        spark.createDataFrame(rows, DOCS).coalesce(1).write.parquet(str(d))
        _utime_tree(d, now - 300 + 100 * i)  # deterministic arrival order

    stream = (spark.readStream.schema(DOCS)
              .option("maxFilesPerTrigger", 1)
              .parquet(f"{src}/batch*/"))
    q = stream_dedup_near(stream, str(tmp_path / "state"),
                          str(tmp_path / "ckpt"))
    q.awaitTermination()

    dec = {r.doc_id: (r.status, r.duplicate_of, r.batch_id)
           for r in read_decisions(spark, str(tmp_path / "state"))
           .collect()}
    assert dec == {1: ("kept", None, 0),
                   2: ("dup_in_batch", 1, 0),
                   3: ("kept", None, 0),
                   4: ("dup_of_corpus", 1, 1),
                   5: ("kept", None, 1),
                   6: ("dup_of_corpus", 5, 2),
                   7: ("dup_of_corpus", 3, 2)}
    state = read_merged_state(spark, str(tmp_path / "state"))
    kept_in_state = {r.doc_id for r in
                     state.select("doc_id").distinct().collect()}
    assert kept_in_state == {1, 3, 5}, \
        "band state must hold exactly the kept documents"


def test_stream_dedup_near_replay_idempotent(spark, tmp_path):
    """At-least-once retry of a batch (crash after the merge commit,
    before the checkpoint) must reproduce the ORIGINAL decisions: the
    corpus check time-travels to the pre-batch snapshot, so a kept doc
    is not re-classified as a duplicate of its own bands."""
    from data_services_spark.streaming.ingest import read_merged_state
    from data_services_spark.streaming.neardup import (
        dedup_batch_against_state, read_decisions,
    )

    DOCS = "doc_id long, text string"
    t_a = "the quick brown fox jumps over the lazy dog again and again"
    t_b = "completely different words about streaming state machinery"
    state_dir = str(tmp_path / "state")
    b0 = spark.createDataFrame([(1, t_a), (2, t_b)], DOCS)
    b1 = spark.createDataFrame([(3, t_a), (4, t_b)], DOCS)

    dedup_batch_against_state(spark, b0, state_dir, 0)
    gen_after_b0 = read_merged_state(spark, state_dir).count()
    dedup_batch_against_state(spark, b0, state_dir, 0)  # replay batch 0
    assert read_merged_state(spark, state_dir).count() == gen_after_b0
    dec0 = {r.doc_id: r.status for r in
            read_decisions(spark, state_dir)
            .filter("batch_id = 0").collect()}
    assert dec0 == {1: "kept", 2: "kept"}

    dedup_batch_against_state(spark, b1, state_dir, 1)
    dedup_batch_against_state(spark, b1, state_dir, 1)  # replay batch 1
    dec1 = {r.doc_id: (r.status, r.duplicate_of) for r in
            read_decisions(spark, state_dir)
            .filter("batch_id = 1").collect()}
    assert dec1 == {3: ("dup_of_corpus", 1), 4: ("dup_of_corpus", 2)}
    kept_in_state = {r.doc_id for r in
                     read_merged_state(spark, state_dir)
                     .select("doc_id").distinct().collect()}
    assert kept_in_state == {1, 2}


def test_stream_dedup_near_null_text_gets_decision(spark, tmp_path):
    """NULL-text docs must not vanish without a decision: they hash as
    empty text, dedup among themselves, and the doc-id accounting stays
    complete."""
    from data_services_spark.streaming.neardup import (
        dedup_batch_against_state, read_decisions,
    )

    DOCS = "doc_id long, text string"
    state_dir = str(tmp_path / "state")
    b0 = spark.createDataFrame(
        [(1, "some real text here"), (2, None), (3, None), (4, "")],
        DOCS)
    dedup_batch_against_state(spark, b0, state_dir, 0)
    dec = {r.doc_id: (r.status, r.duplicate_of) for r in
           read_decisions(spark, state_dir).collect()}
    assert set(dec) == {1, 2, 3, 4}, "every doc needs a decision row"
    assert dec[1] == ("kept", None)
    assert dec[2] == ("kept", None)  # first empty-text arrival wins
    assert dec[3] == ("dup_in_batch", 2)
    assert dec[4] == ("dup_in_batch", 2)


def test_stream_crawl_ingest_cross_batch_equals_batch(spark, tmp_path):
    """Round-10 capstone: streaming crawl ingest vs persisted URL
    state. Recrawled URLs are dropped within a batch AND across
    batches via the generational URL state; the kept corpus — every
    extraction+classifier result row — must equal the batch
    crawl-ingest pipeline (canonicalize -> first-wins -> extract ->
    classify) over the union of the batches, row for row (arrival
    order respects id order here, the documented equality regime)."""
    import time

    import pyspark.sql.functions as F

    from data_services_spark.operators.text import hashed_linear_score
    from data_services_spark.operators.web import (
        canonicalize_url, html_to_text, url_domain,
    )
    from data_services_spark.streaming.crawl import (
        read_crawl_decisions, read_crawl_results, stream_crawl_ingest,
    )

    SCHEMA = "doc_id long, url string, page string"

    def pg(body):
        return ("<html><head><title>t</title></head><body><p>"
                + body + "</p></body></html>")

    u1_messy = "HTTPS://WwW.Example.COM:443/a/./b/../posts/item1.html" \
        "?utm_source=feed&id=1#frag"
    u1_clean = "https://www.example.com/a/posts/item1.html?id=1"
    u2 = "https://news.example.org/story2?x=1&a=2"
    u3 = "http://blog.example.net:80/entry3"
    batches = [
        [(1, u1_messy, pg("the quick brown fox story one")),
         (2, u1_clean, pg("recrawl of story one, later id")),   # in-batch
         (3, u2, pg("a completely different second story"))],
        [(4, u1_messy, pg("third crawl of story one")),         # corpus dup
         (5, u3, pg("the third unique entry text"))],
        [(6, u2, pg("recrawl of the second story")),            # corpus dup
         (7, "https://site.example.com/fresh7",
          pg("fresh final page body"))],
    ]
    src = tmp_path / "incoming"
    src.mkdir()
    now = time.time()
    for i, rows in enumerate(batches):
        d = src / f"batch{i}"
        spark.createDataFrame(rows, SCHEMA).coalesce(1) \
            .write.parquet(str(d))
        _utime_tree(d, now - 300 + 100 * i)

    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1)
              .parquet(f"{src}/batch*/"))
    q = stream_crawl_ingest(stream, str(tmp_path / "state"),
                            str(tmp_path / "ckpt"))
    q.awaitTermination()

    dec = {r.doc_id: (r.status, r.duplicate_of, r.batch_id)
           for r in read_crawl_decisions(
               spark, str(tmp_path / "state")).collect()}
    assert dec == {1: ("kept", None, 0),
                   2: ("dup_in_batch", 1, 0),
                   3: ("kept", None, 0),
                   4: ("dup_of_corpus", 1, 1),
                   5: ("kept", None, 1),
                   6: ("dup_of_corpus", 3, 2),
                   7: ("kept", None, 2)}

    # the incremental==batch device: streamed results == the batch
    # pipeline over the union, row for row (scores included)
    union = spark.createDataFrame(
        [r for rows in batches for r in rows], SCHEMA)
    canon = (union.withColumn("curl", canonicalize_url("url"))
             .withColumn("domain", url_domain(F.col("curl"))))
    surv = canon.groupBy("curl").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("page", "doc_id").alias("page"),
        F.min_by("domain", "doc_id").alias("domain"))
    ref = hashed_linear_score(
        surv.select("doc_id", "curl", "domain",
                    html_to_text("page").alias("page_text")),
        text_col="page_text", extra_cols=("curl", "domain"))
    want = {tuple(r) for r in ref.collect()}
    got = {tuple(r) for r in read_crawl_results(
        spark, str(tmp_path / "state")).drop("batch_id").collect()}
    assert got == want


def test_stream_crawl_ingest_replay_idempotent(spark, tmp_path):
    """At-least-once retry (crash between the URL-state merge commit
    and the streaming checkpoint) must reproduce the ORIGINAL
    decisions and results: the probe time-travels to the pre-batch
    snapshot, so a batch's own kept URLs are not reclassified as
    corpus duplicates, and the state merge skips the replay via its
    batch watermark."""
    from data_services_spark.streaming.crawl import (
        ingest_crawl_batch, read_crawl_decisions, read_crawl_results,
    )
    from data_services_spark.streaming.ingest import read_merged_state

    SCHEMA = "doc_id long, url string, page string"
    page = "<html><body><p>replayable page body text</p></body></html>"
    state_dir = str(tmp_path / "state")
    b0 = spark.createDataFrame(
        [(1, "https://a.example.com/x", page),
         (2, "https://b.example.com/y", page)], SCHEMA)
    b1 = spark.createDataFrame(
        [(3, "https://a.example.com/x", page),
         (4, "https://c.example.com/z", page)], SCHEMA)

    ingest_crawl_batch(spark, b0, state_dir, 0)
    n_after_b0 = read_merged_state(spark, state_dir).count()
    ingest_crawl_batch(spark, b0, state_dir, 0)  # replay batch 0
    assert read_merged_state(spark, state_dir).count() == n_after_b0
    dec0 = {r.doc_id: r.status for r in
            read_crawl_decisions(spark, state_dir)
            .filter("batch_id = 0").collect()}
    assert dec0 == {1: "kept", 2: "kept"}

    ingest_crawl_batch(spark, b1, state_dir, 1)
    ingest_crawl_batch(spark, b1, state_dir, 1)  # replay batch 1
    dec1 = {r.doc_id: (r.status, r.duplicate_of) for r in
            read_crawl_decisions(spark, state_dir)
            .filter("batch_id = 1").collect()}
    assert dec1 == {3: ("dup_of_corpus", 1), 4: ("kept", None)}
    kept_state = {r.kept_id for r in read_merged_state(spark, state_dir)
                  .select("kept_id").distinct().collect()}
    assert kept_state == {1, 2, 4}
    # results only ever hold kept docs, once each, across the replays
    ids = sorted(r.doc_id for r in
                 read_crawl_results(spark, state_dir).collect())
    assert ids == [1, 2, 4]


def test_stream_crawl_ingest_null_url_gets_decision(spark, tmp_path):
    """A NULL (or unparseable-to-NULL) URL must not silently vanish:
    NULL canonicalizes to the sentinel key, so such rows dedup among
    themselves and every input row gets a decision."""
    from data_services_spark.streaming.crawl import (
        ingest_crawl_batch, read_crawl_decisions,
    )

    SCHEMA = "doc_id long, url string, page string"
    page = "<html><body><p>body</p></body></html>"
    state_dir = str(tmp_path / "state")
    b0 = spark.createDataFrame(
        [(1, None, page), (2, None, page),
         (3, "https://ok.example.com/p", page)], SCHEMA)
    ingest_crawl_batch(spark, b0, state_dir, 0)
    dec = {r.doc_id: r.status for r in
           read_crawl_decisions(spark, state_dir).collect()}
    assert dec == {1: "kept", 2: "dup_in_batch", 3: "kept"}


def test_stream_domain_cap_in_order_equals_batch(spark, tmp_path):
    """Round-11 M10: streaming per-domain cap vs persisted keep-list
    state. In-order arrival (every id later than all previously kept
    ids): the union of 'kept' decisions AND the final state both equal
    the batch min_k_per_group_scalable over the union of the batches,
    and no eviction ever fires."""
    import time

    from data_services_spark.operators.windows import (
        min_k_per_group_scalable,
    )
    from data_services_spark.streaming.domaincap import (
        read_domain_cap_decisions, read_domain_cap_state,
        stream_domain_cap,
    )

    SCHEMA = "doc_id long, domain string"
    batches = [
        [(1, "a.com"), (2, "a.com"), (3, "b.org"), (4, "a.com")],
        [(5, "a.com"), (6, "b.org"), (7, "c.net")],   # a.com now over cap
        [(8, "a.com"), (9, "b.org"), (10, "c.net")],  # b.org over cap
    ]
    src = tmp_path / "in"
    src.mkdir()
    now = time.time()
    for i, rows in enumerate(batches):
        d = src / f"batch{i}"
        spark.createDataFrame(rows, SCHEMA).coalesce(1) \
            .write.parquet(str(d))
        _utime_tree(d, now - 300 + 100 * i)
    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1)
              .parquet(f"{src}/batch*/"))
    q = stream_domain_cap(stream, str(tmp_path / "state"),
                          str(tmp_path / "ckpt"), k=3)
    q.awaitTermination()

    state = {(r.domain, r.doc_id) for r in read_domain_cap_state(
        spark, str(tmp_path / "state")).collect()}
    union = spark.createDataFrame(
        [r for b in batches for r in b], SCHEMA)
    want = {(r.domain, r.doc_id) for r in min_k_per_group_scalable(
        union, "domain", "doc_id", 3).collect()}
    assert state == want
    dec = read_domain_cap_decisions(spark, str(tmp_path / "state"))
    by_status = {(r.domain, r.doc_id, r.status) for r in dec.collect()}
    kept = {(d, i) for d, i, s in by_status if s == "kept"}
    assert kept == want
    assert not any(s == "evicted" for _, _, s in by_status)
    capped = {(d, i) for d, i, s in by_status if s == "capped"}
    assert capped == {("a.com", 5), ("a.com", 8)}


def test_stream_domain_cap_out_of_order_state_exact_and_evicts(
        spark, tmp_path):
    """Out-of-order arrival: a late SMALLER id displaces an already-
    kept larger one. The state must still equal the batch operator
    over the union (lossless bottom-k merge), and the displaced id
    gets an 'evicted' retraction decision in the displacing batch."""
    from data_services_spark.operators.windows import (
        min_k_per_group_scalable,
    )
    from data_services_spark.streaming.domaincap import (
        cap_domain_batch, read_domain_cap_decisions,
        read_domain_cap_state,
    )

    SCHEMA = "doc_id long, domain string"
    state_dir = str(tmp_path / "state")
    b0 = [(10, "a.com"), (20, "a.com"), (30, "b.org")]
    b1 = [(5, "a.com"), (40, "b.org")]   # 5 evicts 20 under k=2
    cap_domain_batch(spark, spark.createDataFrame(b0, SCHEMA),
                     state_dir, 0, k=2)
    cap_domain_batch(spark, spark.createDataFrame(b1, SCHEMA),
                     state_dir, 1, k=2)

    state = {(r.domain, r.doc_id)
             for r in read_domain_cap_state(spark, state_dir).collect()}
    union = spark.createDataFrame(b0 + b1, SCHEMA)
    want = {(r.domain, r.doc_id) for r in min_k_per_group_scalable(
        union, "domain", "doc_id", 2).collect()}
    assert state == want
    assert ("a.com", 5) in state and ("a.com", 20) not in state

    dec = {(r.domain, r.doc_id, r.status, r.batch_id)
           for r in read_domain_cap_decisions(spark, state_dir).collect()}
    assert ("a.com", 20, "kept", 0) in dec      # honest history...
    assert ("a.com", 20, "evicted", 1) in dec   # ...then retracted
    assert ("a.com", 5, "kept", 1) in dec
    assert ("b.org", 40, "kept", 1) in dec


def test_stream_domain_cap_replay_idempotent_and_nulls(spark, tmp_path):
    """Replaying a batch id reproduces the original decisions (state
    reads time-travel to the pre-batch snapshot) and leaves the state
    unchanged; NULL domains cap as their own group, NULL ids are
    excluded from candidacy with an explicit decision."""
    from data_services_spark.streaming.domaincap import (
        NULL_DOMAIN, cap_domain_batch, read_domain_cap_decisions,
        read_domain_cap_state,
    )

    SCHEMA = "doc_id long, domain string"
    state_dir = str(tmp_path / "state")
    b0 = [(1, None), (2, None), (3, None), (None, "x.com"), (4, "x.com")]
    b1 = [(5, "x.com"), (6, None)]
    cap_domain_batch(spark, spark.createDataFrame(b0, SCHEMA),
                     state_dir, 0, k=2)
    cap_domain_batch(spark, spark.createDataFrame(b1, SCHEMA),
                     state_dir, 1, k=2)
    state1 = {(r.domain, r.doc_id) for r in read_domain_cap_state(
        spark, state_dir).collect()}
    dec1 = {(r.domain, r.doc_id, r.status, r.batch_id)
            for r in read_domain_cap_decisions(
                spark, state_dir).collect()}
    # NULL domain caps as a group of its own; NULL id decisioned
    assert (NULL_DOMAIN, 1) in state1 and (NULL_DOMAIN, 2) in state1
    assert (NULL_DOMAIN, 3) not in state1
    assert ("x.com", None, "null_id", 0) in dec1
    assert (NULL_DOMAIN, 6, "capped", 1) in dec1

    # replay the crash window: re-run batch 1 verbatim
    cap_domain_batch(spark, spark.createDataFrame(b1, SCHEMA),
                     state_dir, 1, k=2)
    state2 = {(r.domain, r.doc_id) for r in read_domain_cap_state(
        spark, state_dir).collect()}
    dec2 = {(r.domain, r.doc_id, r.status, r.batch_id)
            for r in read_domain_cap_decisions(
                spark, state_dir).collect()}
    assert state2 == state1
    assert dec2 == dec1


def test_stream_domain_cap_input_contract_and_one_status_per_key(
        spark, tmp_path):
    """r11-advice hardening: (1) a same-batch re-arrival of a state-
    kept id that the batch displaces yields exactly ONE decision row
    ('evicted' takes precedence over 'capped'); (2) non-long-castable
    ids fail loudly instead of silently becoming 'null_id'; (3) a
    caller-supplied domain equal to the NULL sentinel is rejected."""
    import pytest

    from data_services_spark.streaming.domaincap import (
        NULL_DOMAIN, cap_domain_batch, read_domain_cap_decisions,
    )

    SCHEMA = "doc_id long, domain string"
    state_dir = str(tmp_path / "state")
    cap_domain_batch(spark, spark.createDataFrame(
        [(10, "a.com"), (20, "a.com")], SCHEMA), state_dir, 0, k=2)
    # batch 1 re-sends 20 AND displaces it (5, 7 are both smaller)
    cap_domain_batch(spark, spark.createDataFrame(
        [(5, "a.com"), (7, "a.com"), (20, "a.com")], SCHEMA),
        state_dir, 1, k=2)
    dec = [(r.domain, r.doc_id, r.status, r.batch_id)
           for r in read_domain_cap_decisions(spark, state_dir).collect()]
    twenty_b1 = [d for d in dec if d[1] == 20 and d[3] == 1]
    assert twenty_b1 == [("a.com", 20, "evicted", 1)]
    # every (domain, doc_id, batch_id) carries exactly one status
    keys = [(d[0], d[1], d[3]) for d in dec]
    assert len(keys) == len(set(keys))

    with pytest.raises(ValueError, match="castable to long"):
        cap_domain_batch(spark, spark.createDataFrame(
            [("docA", "a.com")], "doc_id string, domain string"),
            state_dir, 2, k=2, id_col="doc_id")
    # r12 advice: fractional numeric ids TRUNCATE under try_cast long
    # (1.7 -> 1) — the probe must catch the lossy cast, not just the
    # NULL cast, or distinct ids collide in the state
    with pytest.raises(ValueError, match="castable to long"):
        cap_domain_batch(spark, spark.createDataFrame(
            [(1.7, "a.com")], "doc_id double, domain string"),
            state_dir, 2, k=2, id_col="doc_id")
    # integral-valued doubles round-trip losslessly and still pass
    cap_domain_batch(spark, spark.createDataFrame(
        [(21.0, "a.com")], "doc_id double, domain string"),
        state_dir, 2, k=2, id_col="doc_id")
    with pytest.raises(ValueError, match="sentinel"):
        cap_domain_batch(spark, spark.createDataFrame(
            [(1, NULL_DOMAIN)], SCHEMA), state_dir, 2, k=2)


def test_sized_state_partitions_gate_and_drain_parity(spark, events_dir,
                                                     monkeypatch):
    """Round 13: the stateful-shuffle sizing device. Contract: a
    non-stat-able dir returns None (leave the session conf alone); the
    derived count is bytes/STATE_TARGET_BYTES floored at 4 and capped
    by the session conf; and a drain under a pinned count returns
    EXACTLY the rows of a default drain while restoring the session
    conf afterwards."""
    import math
    import os

    from data_services_spark.streaming import events
    from data_services_spark.streaming.events import (
        sized_state_partitions, stream_tumbling_counts)

    assert sized_state_partitions(spark, "/nonexistent-dir-xyz") is None

    size = sum(os.path.getsize(os.path.join(events_dir, f))
               for f in os.listdir(events_dir))
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    want = min(cap, max(4, math.ceil(size / (32 * 1024 * 1024))))
    n = sized_state_partitions(spark, events_dir)
    assert n == want
    # a target far below the dir size hits the session-conf cap
    with monkeypatch.context() as m:
        m.setattr(events, "STATE_TARGET_BYTES", 1)
        assert sized_state_partitions(spark, events_dir) == cap

    conf_before = spark.conf.get("spark.sql.shuffle.partitions")
    stream = read_event_stream(spark, events_dir)
    sized = run_to_memory_sink(stream_tumbling_counts(stream),
                               "t_sized_sink", output_mode="complete",
                               state_partitions=n)
    assert spark.conf.get("spark.sql.shuffle.partitions") == conf_before
    stream = read_event_stream(spark, events_dir)
    plain = run_to_memory_sink(stream_tumbling_counts(stream),
                               "t_plain_sink", output_mode="complete")
    rows_sized = sorted(map(tuple, sized.collect()))
    rows_plain = sorted(map(tuple, plain.collect()))
    assert rows_sized and rows_sized == rows_plain
