"""Property-based invariants (hypothesis) for the numeric, iterative, and
sampling kernels: Python references + partitioning/order invariance —
the distributed-determinism claims SCALE.md leans on, checked on random
inputs rather than fixtures."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings, strategies as st

from data_services_spark.functions.numeric import dsum

_SETTINGS = dict(max_examples=10, deadline=None,
                 suppress_health_check=list(HealthCheck))


def _frame(spark, rows, ddl: str):
    """``rows`` under the DDL schema as a local relation. An Arrow table
    plans a LocalTableScan; a Python list would plan a Scan ExistingRDD,
    and every job over it would start Python workers."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string(ddl)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows],
        schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


def _dsum_reference(xs: list[float]) -> float:
    """The documented dsum contract, in plain Python integer math."""
    ip = sum(math.floor(x) for x in xs)
    fp = sum(math.floor((x - math.floor(x)) * 1_000_000 + 0.5) for x in xs)
    return float(ip) + float(fp) / 1_000_000.0


money = st.floats(min_value=-1e6, max_value=1e6,
                  allow_nan=False, allow_infinity=False)


@settings(**_SETTINGS)
@given(xs=st.lists(money, min_size=1, max_size=40),
       parts=st.integers(min_value=1, max_value=7))
def test_dsum_partitioning_and_order_invariant(spark, xs, parts):
    """dsum == the integer-math reference, bit-for-bit, under any
    partition count and any row order (the property plain SUM(double)
    lacks, and the reason every oracle hash comparison is sound)."""
    want = _dsum_reference(xs)
    df = _frame(spark, [(x,) for x in xs], "v double")
    got = df.repartition(parts).agg(dsum("v", "s")).first().s
    rev = (_frame(spark, [(x,) for x in reversed(xs)], "v double")
           .repartition(max(1, parts - 1)).agg(dsum("v", "s")).first().s)
    assert got == want and rev == want  # exact equality, not approx


def _components_reference(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


edge_lists = st.lists(
    st.tuples(st.integers(min_value=0, max_value=12),
              st.integers(min_value=0, max_value=12)),
    min_size=1, max_size=20)


@settings(**_SETTINGS)
@given(edges=edge_lists)
def test_connected_components_match_union_find(spark, edges):
    """Both CC variants equal a sequential union-find on random graphs
    (self-loops and duplicate edges included)."""
    from data_services_spark.operators.components import (
        connected_components, connected_components_star)

    want = _components_reference(edges)
    df = _frame(spark, edges, "src long, dst long")
    got = {r.node: r.component
           for r in connected_components(df).collect()}
    assert got == want
    # star variant drops self-loops; isolated self-loop-only nodes keep
    # themselves as component in the reference
    star = {r.node: r.component
            for r in connected_components_star(df).collect()}
    for n, c in star.items():
        assert want[n] == c
    for n in set(want) - set(star):
        assert want[n] == n  # only self-loop-isolated nodes may be absent


@settings(**_SETTINGS)
@given(ids=st.lists(st.integers(min_value=0, max_value=10**9),
                    min_size=1, max_size=30, unique=True),
       parts=st.integers(min_value=1, max_value=5))
def test_split_partition_invariant(spark, ids, parts):
    """Split membership is a pure function of the id: repartitioning and
    reordering can never move a row between train/val/test."""
    from data_services_spark.operators.sampling import deterministic_split

    df = _frame(spark, [(i,) for i in ids], "doc_id long")
    a = {r.doc_id: r.split
         for r in deterministic_split(df, "doc_id").collect()}
    b = {r.doc_id: r.split
         for r in deterministic_split(
             df.repartition(parts).sort(F.desc("doc_id")),
             "doc_id").collect()}
    assert a == b


def _asof_reference(left, right):
    out = {}
    for uid, lts, pid in left:
        best = None
        for ruid, rts, sid in right:
            if ruid == uid and rts <= lts:
                if best is None or rts > best[0]:
                    best = (rts, sid)
        out[pid] = best[1] if best else None
    return out


ts_int = st.integers(min_value=0, max_value=50)


@settings(**_SETTINGS)
@given(left=st.lists(st.tuples(st.integers(0, 3), ts_int),
                     min_size=1, max_size=12),
       right=st.lists(st.tuples(st.integers(0, 3), ts_int),
                      min_size=0, max_size=12))
def test_asof_join_matches_bruteforce(spark, left, right):
    """asof_join == the quadratic per-row reference on random data.
    Ties inside the right side are broken identically by payload max
    (the reference keeps the max sid at equal ts, matching the join's
    deterministic last-row-per-ts choice only when payloads are unique
    per (user, ts) — so generate them unique)."""
    import datetime as dt

    from data_services_spark.operators import asof_join

    base = dt.datetime(2024, 1, 1)
    lrows = [(u, base + dt.timedelta(minutes=t), f"p{i}")
             for i, (u, t) in enumerate(left)]
    seen = set()
    rrows = []
    for i, (u, t) in enumerate(right):
        if (u, t) in seen:  # one right row per (user, ts): unique match
            continue
        seen.add((u, t))
        rrows.append((u, base + dt.timedelta(minutes=t), f"s{i}"))
    ldf = _frame(spark, lrows, "user_id long, ts timestamp, pid string")
    rdf = _frame(spark, rrows or [(99, base, "sx")],
                 "user_id long, ts timestamp, sid string")
    got = {r.pid: r.sid_right
           for r in asof_join(ldf, rdf, on=["user_id"], left_ts="ts",
                              right_ts="ts",
                              right_payload=["sid"]).collect()}
    want = _asof_reference(
        [(u, ts, p) for u, ts, p in lrows],
        [(u, ts, s) for u, ts, s in (rrows or [(99, base, "sx")])])
    assert got == want


def _bfs_reference(edges: list[tuple[int, int]], seeds: list[int],
                   rounds: int) -> dict[int, int]:
    dist = {s: 0 for s in seeds}
    for _ in range(rounds):
        nxt = dict(dist)
        for a, b in edges:
            if a in dist:
                nxt[b] = min(nxt.get(b, 1 << 60), dist[a] + 1)
        dist = nxt
    return dist


@settings(**_SETTINGS)
@given(edges=st.lists(st.tuples(st.integers(0, 12), st.integers(0, 12)),
                      min_size=1, max_size=25),
       seeds=st.lists(st.integers(0, 12), min_size=1, max_size=3,
                      unique=True),
       rounds=st.integers(min_value=1, max_value=3))
def test_bfs_levels_match_reference(spark, edges, seeds, rounds):
    """bfs_levels == the plain-Python frontier expansion on random
    directed graphs, and one more round never increases any distance
    (monotone convergence)."""
    from data_services_spark.operators.components import bfs_levels

    e = _frame(spark, edges, "src long, dst long")
    s = _frame(spark, [(x,) for x in seeds], "s long")
    got = {r["node"]: r["dist"]
           for r in bfs_levels(e, s, iterations=rounds).collect()}
    assert got == _bfs_reference(edges, seeds, rounds)
    more = {r["node"]: r["dist"]
            for r in bfs_levels(e, s, iterations=rounds + 1).collect()}
    assert all(more[n] <= d for n, d in got.items())


@settings(**_SETTINGS)
@given(rows=st.lists(
    st.tuples(st.integers(0, 6),                      # key
              st.sampled_from(["a", "b", "c"]),       # tracked value
              st.booleans()),                         # key gets an update?
    min_size=1, max_size=15))
def test_scd2_merge_idempotent_and_conserves_opens(spark, rows):
    """Re-applying the same batch to the merged state is a no-op (every
    update matches the now-open version), and exactly one open row per
    key survives any merge."""
    from data_services_spark.operators.scd import scd2_merge

    state_rows = [(k, v, 0, None) for k, v, _ in
                  {k: (k, v, u) for k, v, u in rows}.values()]
    upd_rows = [(k, v + "x", 100) for k, v, u in
                {k: (k, v, u) for k, v, u in rows}.values() if u]
    state = _frame(spark, state_rows,
                   "id long, seg string, valid_from long, valid_to long")
    upd = _frame(spark, upd_rows or [(99, "z", 100)],
                 "id long, seg string, eff_ms long")
    once = scd2_merge(state, upd, ["id"], ["seg"])
    twice = scd2_merge(once, upd, ["id"], ["seg"])
    a = sorted(map(tuple, once.collect()), key=repr)
    b = sorted(map(tuple, twice.collect()), key=repr)
    assert a == b
    opens = (once.filter(F.col("valid_to").isNull())
             .groupBy("id").count().filter("count > 1").count())
    assert opens == 0


@settings(**_SETTINGS)
@given(vals=st.lists(st.integers(-1_000_000, 1_000_000),
                     min_size=1, max_size=40),
       parts=st.integers(min_value=1, max_value=6),
       shuffle_seed=st.integers(0, 3))
def test_scalable_running_sum_matches_sequential_prefix(spark, vals,
                                                        parts, shuffle_seed):
    """The two-pass prefix-sum decomposition == a plain Python cumulative
    sum in key order, for any requested partition count and any input row
    order (the no-single-partition-sort claim SCALE.md makes for
    running_sum_scalable / token_packing / length batching)."""
    import random

    from data_services_spark.operators.windows import scalable_running_sum

    rows = list(enumerate(vals))  # unique keys -> total order
    random.Random(shuffle_seed).shuffle(rows)
    df = _frame(spark, rows, "k long, v long")
    got = {r.k: r.run for r in
           scalable_running_sum(df, ["k"], "v", "run",
                                num_partitions=parts).collect()}
    acc, want = 0, {}
    for k, v in sorted(enumerate(vals)):
        acc += v
        want[k] = acc
    assert got == want


@settings(**_SETTINGS)
@given(toks=st.lists(st.sampled_from(["a", "b", "c", "d", "e", "f"]),
                     min_size=1, max_size=60),
       s=st.integers(min_value=1, max_value=20),
       parts=st.integers(min_value=1, max_value=8))
def test_heavy_hitters_matches_counter_reference(spark, toks, s, parts):
    """Two-pass propose/verify == plain Counter filter, for any token
    stream, threshold, and partition count (the pigeonhole guarantee)."""
    from collections import Counter

    from data_services_spark.operators.sampling import heavy_hitters

    df = _frame(spark, [(t,) for t in toks], "term string")
    got = {(r.term, r.n) for r in
           heavy_hitters(df.repartition(parts), "term", s).collect()}
    want = {(t, c) for t, c in Counter(toks).items() if c >= s}
    assert got == want


@settings(**_SETTINGS)
@given(rows=st.lists(st.tuples(st.integers(0, 5),
                               st.integers(-1000, 1000)),
                     min_size=1, max_size=40),
       cut=st.floats(min_value=0.0, max_value=1.0))
def test_incremental_merge_matches_one_shot(spark, rows, cut):
    """agg_state(base) folded with any delta == agg_state(all), for any
    base/delta split point (incremental == batch on random data)."""
    from data_services_spark.operators.incremental import (
        agg_state, merge_agg_state)

    k = int(len(rows) * cut)
    base, delta = rows[:k], rows[k:]
    specs = {"n": ("count", "*"), "s": ("sum", "v"),
             "lo": ("min", "v"), "hi": ("max", "v")}
    schema = "k long, v long"
    all_df = _frame(spark, rows, schema)
    want = sorted(map(tuple, agg_state(all_df, ["k"], specs).collect()),
                  key=repr)
    if not base:
        base_state = agg_state(all_df.filter("1=0"), ["k"], specs)
    else:
        base_state = agg_state(_frame(spark, base, schema),
                               ["k"], specs)
    if not delta:
        got_df = base_state
    else:
        got_df = merge_agg_state(
            base_state, _frame(spark, delta, schema), ["k"], specs)
    assert sorted(map(tuple, got_df.collect()), key=repr) == want


def _winnow_py(text: str, k: int, w: int) -> list[int]:
    import hashlib

    s = text.strip().lower()

    def h(g: str) -> int:
        return int(hashlib.md5(f"win:{g}".encode()).hexdigest()[:15], 16)

    hs = ([h(s)] if len(s) - (k - 1) <= 0
          else [h(s[i:i + k]) for i in range(len(s) - k + 1)])
    sel = ([min(hs)] if len(hs) - (w - 1) <= 0
           else [min(hs[j:j + w]) for j in range(len(hs) - w + 1)])
    return sorted(set(sel))


# printable-ascii alphabet: Python str.lower()/strip() agree with
# Spark's lower()/trim() here (full-unicode casing tables differ for a
# handful of codepoints — e.g. dotted İ — which is a documented
# reference-vs-engine divergence, not a winnowing property).
_texts = st.lists(st.text(alphabet=st.characters(min_codepoint=32,
                                                 max_codepoint=126),
                          max_size=120),
                  min_size=1, max_size=8)


@settings(**_SETTINGS)
@given(texts=_texts, k=st.integers(2, 12), w=st.integers(2, 6))
def test_winnow_forms_match_python_reference(spark, texts, k, w):
    """Array form == row form == plain-Python reference on random
    printable texts and random (k, w) — the cross-shape invariant that
    keeps the zero-shuffle and the long-document formulations honest."""
    from data_services_spark.operators import (winnow_fingerprint_rows,
                                               winnow_fingerprints)

    d = _frame(spark, list(enumerate(texts)), "doc_id long, text string")
    want = {i: _winnow_py(t, k, w) for i, t in enumerate(texts)}
    arr = {r.doc_id: list(r.fps)
           for r in winnow_fingerprints(d, k=k, window=w).collect()}
    assert arr == want
    rows = {}
    for r in winnow_fingerprint_rows(d, k=k, window=w).collect():
        rows.setdefault(r.doc_id, []).append(r.fp)
    assert {i: sorted(v) for i, v in rows.items()} == want


@settings(**_SETTINGS)
@given(batches=st.lists(
    st.lists(st.tuples(st.integers(0, 4),        # key
                       st.booleans(),            # is_delete
                       st.one_of(st.none(),      # name (None = no claim)
                                 st.text(alphabet="abc", max_size=3))),
            min_size=0, max_size=8),
    min_size=1, max_size=5))
def test_merge_state_with_deletes_matches_dict_reference(
        spark, tmp_path_factory, batches):
    """Random interleavings of upserts and key-level deletes across
    micro-batches == a sequential Python dict reference (first-wins by
    rank, delete erases history, delete beats same-batch upsert).
    Ranks are globally unique so min_by has no tie nondeterminism."""
    from data_services_spark.streaming.ingest import (
        merge_upsert_batch, read_merged_state,
    )

    state_dir = str(tmp_path_factory.mktemp("delstate"))
    SCHEMA = ("id string, name string, category array<string>, "
              "source_rank int, is_deleted boolean")
    ref: dict[str, list] = {}   # key -> [name, name_rank, n_merged]
    rank = 0  # row counter; per-row rank is (rank * 37) % 997
    for bi, batch in enumerate(batches):
        rows = []
        for key, is_del, name in batch:
            # unique but NON-monotonic ranks (37 coprime 997): later
            # batches can out-rank earlier names, exercising the
            # per-scalar __rank state, with no min_by tie ambiguity
            rows.append((f"K:{key}", name, None, (rank * 37) % 997,
                         is_del))
            rank += 1
        # reference: merge upserts first, then deletes win
        for kid, name, _cat, r, is_del in rows:
            if is_del:
                continue
            e = ref.setdefault(kid, [None, None, 0])
            e[2] += 1
            if name is not None and (e[1] is None or r < e[1]):
                e[0], e[1] = name, r
        for kid, _n, _c, _r, is_del in rows:
            if is_del:
                ref.pop(kid, None)
        merge_upsert_batch(
            spark, _frame(spark, rows, SCHEMA), state_dir,
            batch_id=bi, delete_flag="is_deleted", num_buckets=4)

    try:
        got = {r.id: (r.name, r.n_merged)
               for r in read_merged_state(spark, state_dir).collect()}
    except FileNotFoundError:
        got = {}  # everything deleted/never written
    want = {k: (v[0], v[2]) for k, v in ref.items()}
    assert got == want


@settings(**_SETTINGS)
@given(docs=st.lists(
    st.lists(st.sampled_from(["a", "b", "c", "d", "e", "f"]),
             min_size=1, max_size=8),
    min_size=2, max_size=12),
    thr=st.sampled_from([0.3, 0.5, 0.75, 0.8, 1.0]))
def test_prefix_jaccard_equals_bruteforce_on_random_corpora(spark, docs,
                                                            thr):
    """The PPJoin no-false-negative contract on RANDOM corpora: the
    prefix-filtered join returns exactly the brute-force Jaccard pair
    set at every threshold — including corpora where most docs are
    near-identical (tiny vocab => dense similarity, the adversarial
    regime) and thresholds whose rational form is not a short decimal."""
    from data_services_spark.operators.dedup import (
        jaccard_pairs, prefix_jaccard_join,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = _frame(spark, rows, "doc_id long, text string")
    brute = {(r["id_a"], r["id_b"]) for r in
             jaccard_pairs(df, threshold=thr).collect()}
    got = {(r["id_a"], r["id_b"]): r for r in
           prefix_jaccard_join(df, threshold=thr).collect()}
    assert set(got) == brute
    # verify columns are internally consistent exact integers
    for (ia, ib), r in got.items():
        assert 0 < r["inter"] <= min(r["sz_a"], r["sz_b"])
        assert r["jaccard"] == r["inter"] / (r["sz_a"] + r["sz_b"]
                                             - r["inter"])
