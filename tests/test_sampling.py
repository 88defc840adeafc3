"""Training-data pipeline operators: splits, vocab, decontamination,
packing (operators/sampling.py)."""

from __future__ import annotations

import pytest

from data_services_spark.operators.sampling import (
    deterministic_split, ngram_contamination, pack_by_token_budget,
    vocab_top_k,
)


def test_split_is_deterministic_and_proportional(spark):
    ids = spark.range(2000).withColumnRenamed("id", "doc_id")
    a = {r.doc_id: r.split
         for r in deterministic_split(ids, "doc_id").collect()}
    b = {r.doc_id: r.split
         for r in deterministic_split(ids, "doc_id").collect()}
    assert a == b  # membership is a pure function of the id
    from collections import Counter
    c = Counter(a.values())
    assert abs(c["train"] / 2000 - 0.9) < 0.03
    assert abs(c["val"] / 2000 - 0.05) < 0.02
    assert abs(c["test"] / 2000 - 0.05) < 0.02
    # a different seed must produce a different assignment
    d = {r.doc_id: r.split
         for r in deterministic_split(ids, "doc_id", seed=1).collect()}
    assert d != a


def test_split_rejects_bad_fractions(spark):
    ids = spark.range(10).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError):
        deterministic_split(ids, "doc_id",
                            splits=(("a", 0.5), ("b", 0.6)))


def test_vocab_top_k_bounds_df(spark):
    d = spark.createDataFrame(
        [(1, "common rare1 stop"), (2, "common stop"),
         (3, "stop"), (4, "stop")],
        "doc_id long, text string")
    # stop appears in 4/4 docs (> 50% cap), rare1 in 1 (< min_df 2),
    # common in exactly 2/4 (= the cap, kept)
    got = {r.token: r.df for r in
           vocab_top_k(d, min_df=2, max_df_frac=0.5, k=10).collect()}
    assert got == {"common": 2}


def test_ngram_contamination_flags_probe_overlap(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e"),        # shares 3-grams "a b c","b c d","c d e"
         (2, "x y z w v"),        # disjoint from probe
         (3, "a b c q r")],       # shares only "a b c"
        "doc_id long, text string")
    probes = spark.createDataFrame(
        [(100, "a b c d e")], "probe_id long, text string")
    got = {r.doc_id: (r.n_ngrams, r.n_contaminated,
                      round(r.contamination, 6))
           for r in ngram_contamination(docs, probes,
                                        probe_id="probe_id").collect()}
    assert got[1] == (3, 3, 1.0)
    assert got[2] == (3, 0, 0.0)
    assert got[3] == (3, 1, round(1 / 3, 6))


def test_pack_by_token_budget_prefix_chunks(spark):
    d = spark.createDataFrame(
        [(1, "t " * 300), (2, "t " * 300), (3, "t " * 300)],
        "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.chunk_id)
           for r in pack_by_token_budget(d, budget=512).collect()}
    # exclusive prefix sums: 0, 300, 600 -> chunks 0, 0, 1
    assert got == {1: (300, 0), 2: (300, 0), 3: (300, 1)}


def test_stratified_sample_is_deterministic_per_stratum(spark):
    from data_services_spark.operators.sampling import stratified_sample
    rows = [(i, "head" if i % 4 else "tail") for i in range(4000)]
    d = spark.createDataFrame(rows, "doc_id long, lang string")
    out = stratified_sample(d, "lang", {"head": 0.1, "tail": 0.9})
    got = out.collect()
    again = set((r.doc_id, r.lang) for r in stratified_sample(
        d, "lang", {"head": 0.1, "tail": 0.9}).collect())
    assert set((r.doc_id, r.lang) for r in got) == again
    from collections import Counter
    c = Counter(r.lang for r in got)
    assert abs(c["head"] / 3000 - 0.1) < 0.03
    assert abs(c["tail"] / 1000 - 0.9) < 0.04
    # a stratum missing from the fraction map defaults to dropped
    e = spark.createDataFrame([(1, "other")], "doc_id long, lang string")
    assert stratified_sample(e, "lang", {"head": 0.5}).count() == 0


def test_heavy_hitters_partition_invariant_and_exact(spark):
    """The candidate set depends on partition layout; the OUTPUT must
    not — any repartitioning yields exactly GROUP BY ... HAVING."""
    import pyspark.sql.functions as F

    from data_services_spark.operators.sampling import heavy_hitters

    rows = ([("the",)] * 40 + [("of",)] * 25 + [("rare%d" % i,)
            for i in range(30)] * 2)
    df = spark.createDataFrame(rows, "term string")
    want = {("the", 40), ("of", 25)}
    for parts in (1, 3, 16):
        got = {(r.term, r.n) for r in
               heavy_hitters(df.repartition(parts), "term", 25).collect()}
        assert got == want, parts
    # threshold above every count -> empty, not an error
    assert heavy_hitters(df, "term", 1000).count() == 0


def test_heavy_hitters_floor_survives_high_partition_counts(spark):
    """Partitions >> min_count is the 100 TB failure mode: a naive
    floor = ceil(min_count/P) collapses to 1 and every term becomes a
    candidate (the propose/verify split inverts into the full shuffle).
    The coalesce cap must keep the floor >= target_floor, the candidate
    set << vocabulary, and the output exactly GROUP BY ... HAVING."""
    import pyspark.sql.functions as F

    from data_services_spark.operators.sampling import (
        heavy_hitter_candidates, heavy_hitters)

    # 2000 distinct rare terms (1x each) + 2 heavies, spread over 64
    # partitions — min_count=8 << 64 partitions
    rows = ([("the",)] * 40 + [("of",)] * 12
            + [("rare%d" % i,) for i in range(2000)])
    df = spark.createDataFrame(rows, "term string").repartition(64)

    got = {(r.term, r.n) for r in heavy_hitters(df, "term", 8).collect()}
    assert got == {("the", 40), ("of", 12)}

    # candidate set must stay tiny vs the 2002-term vocabulary: with the
    # cap, P collapses to 1 and floor stays 8, so ONLY true heavies are
    # proposed; without it floor would be ceil(8/64)=1 -> 2002 candidates
    n_cand = heavy_hitter_candidates(df, "term", 8).count()
    assert n_cand == 2, n_cand

    # same guarantee when min_count supports a few partitions: P=4,
    # floor=16 -> candidates are terms with >= 16 in one partition
    n_cand64 = heavy_hitter_candidates(df, "term", 64).count()
    vocab = df.distinct().count()
    assert n_cand64 < vocab / 100, (n_cand64, vocab)


def test_source_mixture_budget_and_determinism(spark):
    """The expected kept-token volume per source is budget * w/w_sum
    (capped at the source's own volume); membership is a pure function
    of doc_id; and the small source keeps a HIGHER fraction than the
    giant one (the point of temperature < 1)."""
    import pyspark.sql.functions as F

    from data_services_spark.operators.sampling import source_mixture_sample

    rows = []
    for i in range(2000):
        rows.append((i, "crawl", 100))          # 200k tokens
    for i in range(2000, 2100):
        rows.append((i, "books", 100))          # 10k tokens
    df = spark.createDataFrame(rows, "doc_id long, source string, "
                                     "n_tokens long")
    out = source_mixture_sample(df, "source", token_budget=30000)
    got = {r["source"]: r["kept"] for r in
           out.groupBy("source").agg(
               F.sum("n_tokens").alias("kept")).collect()}
    # weights: floor(sqrt(200000))=447, floor(sqrt(10000))=100, sum 547
    # expected kept: crawl 30000*447/547 = 24516, books 30000*100/547
    # = 5484 (both under the source volumes, so no cap) — hash sampling
    # noise is +-O(sqrt(n)) docs of 100 tokens
    assert abs(got["crawl"] - 24516) < 4000, got
    assert abs(got["books"] - 5484) < 2000, got
    # temperature upweights the small source RELATIVELY
    assert got["books"] / 10000 > got["crawl"] / 200000
    # determinism: same ids survive on a reshuffled frame
    a = {r["doc_id"] for r in out.collect()}
    b = {r["doc_id"] for r in
         source_mixture_sample(df.repartition(7), "source",
                               token_budget=30000).collect()}
    assert a == b


def test_quantize_embeddings_roundtrip_bound(spark):
    """Reconstruction q*scale is within scale/2 of every element (the
    half-up rounding bound), ints fit int8, and the zero vector maps to
    zeros with scale 0."""
    from data_services_spark.operators.similarity import quantize_embeddings

    rows = [(1, [0.5, -1.0, 0.25, 127.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),
            (3, [-0.003, 0.001, 0.002, -0.0015])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: (r["scale"], r["qvec"])
           for r in quantize_embeddings(df).collect()}
    assert got[2] == (0.0, [0, 0, 0, 0])
    for vid, vec in [(1, rows[0][1]), (3, rows[2][1])]:
        scale, q = got[vid]
        assert all(-128 <= qi <= 127 for qi in q), (vid, q)
        for x, qi in zip(vec, q):
            assert abs(qi * scale - x) <= scale / 2 + 1e-12, (vid, x, qi)


def test_corpus_curate_stage_subsets(spark):
    """The curation capstone's kept set nests correctly inside its own
    stages at sf0.001: every curated doc passes the quality gate, is its
    exact-dup group's min id, survives near-dup removal (subset of
    corpus_dedup's survivors INTERSECTED with the gate — corpus_dedup
    runs on the unfiltered corpus so representatives differ where a
    dropped doc anchored a cluster), and curated per-source token
    volume never exceeds the survivor volume."""
    import pyspark.sql.functions as F

    from data_services_spark.operators.text import tokenize
    from data_services_spark.registry import RAW_QUERIES

    sf = "/root/testdata/sf0.001"
    cur = RAW_QUERIES["corpus_curate"](spark, sf)
    rows = cur.collect()
    assert rows, "curation kept nothing"
    kept = {r["doc_id"] for r in rows}

    from data_services_spark.catalog import load_table
    d = load_table(spark, sf, "documents")
    n_tok = F.size(tokenize("text"))
    qual = d.filter(
        (n_tok >= 5)
        & (F.length(F.regexp_replace("text", r"[A-Za-z\s]", "")) * 10
           <= F.length("text") * 3))
    qual_ids = {r["doc_id"] for r in qual.select("doc_id").collect()}
    assert kept <= qual_ids

    # exact-dedup: a kept doc is the min id of its normalized-text group
    h = F.sha2(F.lower(F.trim("text")), 256).alias("h")
    groups = {}
    for r in qual.select("doc_id", h).collect():
        groups.setdefault(r["h"], []).append(r["doc_id"])
    keepers = {min(ids) for ids in groups.values()}
    assert kept <= keepers

    # n_tokens column is the whitespace count used everywhere else
    tok = {r["doc_id"]: r["n"] for r in
           qual.select("doc_id", n_tok.cast("long").alias("n")).collect()}
    for r in rows:
        assert tok[r["doc_id"]] == r["n_tokens"]


def test_dsir_logweights_ranks_target_like_docs(spark):
    """DSIR importance weights: docs drawn from the target domain's token
    distribution must outweigh off-domain docs, values must match a
    Python reference of the same smoothed log-likelihood-ratio formula,
    and weights must be invariant to repartitioning (dsum contract)."""
    import hashlib
    import math

    from data_services_spark.operators.sampling import dsir_logweights

    med = "alpha beta gamma delta epsilon"
    web = "spam click buy now free"
    docs = [(1, f"{med} {med}"), (2, f"{med} alpha beta"),
            (3, f"{web} {web}"), (4, f"{web} spam click"),
            (5, f"{med} {web}")]
    probes = [(100, med), (101, f"alpha beta gamma {med}")]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    t = spark.createDataFrame(probes, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["logweight"])
           for r in dsir_logweights(d, t, n_buckets=64, seed=9).collect()}

    B = 64

    def bucket(tok):
        h = int(hashlib.md5(f"9:{tok}".encode()).hexdigest()[:15], 16)
        return h % B

    raw, tgt = {}, {}
    rtoks = [tok for _, txt in docs for tok in txt.lower().split()]
    ttoks = [tok for _, txt in probes for tok in txt.lower().split()]
    for tok in rtoks:
        raw[bucket(tok)] = raw.get(bucket(tok), 0) + 1
    for tok in ttoks:
        tgt[bucket(tok)] = tgt.get(bucket(tok), 0) + 1
    R, T = len(rtoks), len(ttoks)
    for doc_id, txt in docs:
        toks = txt.lower().split()
        w = sum((math.log(tgt.get(bucket(k), 0) + 1) - math.log(T + B))
                - (math.log(raw[bucket(k)] + 1) - math.log(R + B))
                for k in toks)
        n, got_w = got[doc_id]
        assert n == len(toks)
        assert abs(got_w - w) < 1e-5, (doc_id, got_w, w)

    # target-domain docs outrank off-domain ones; the mixed doc sits between
    assert got[1][1] > got[5][1] > got[3][1]
    assert got[2][1] > got[4][1]

    # partitioning invariance: identical bits on a reshuffled input
    got2 = {r["doc_id"]: r["logweight"]
            for r in dsir_logweights(d.repartition(7), t.repartition(3),
                                     n_buckets=64, seed=9).collect()}
    assert {k: v[1] for k, v in got.items()} == got2


def test_dsir_resample_deterministic_and_weight_biased(spark):
    """Gumbel-top-k selection: stable across runs and repartitioning,
    exactly k rows, and biased toward high-importance docs (target-like
    docs selected at a higher rate than off-domain ones)."""
    from data_services_spark.operators.sampling import dsir_resample

    med = "alpha beta gamma delta epsilon zeta eta theta"
    web = "spam click buy now free deal win cash"
    docs = ([(i, med) for i in range(60)]
            + [(100 + i, web) for i in range(60)])
    probes = [(999, med)]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    t = spark.createDataFrame(probes, "doc_id long, text string")

    sel1 = [r["doc_id"] for r in dsir_resample(d, t, k=40).collect()]
    sel2 = [r["doc_id"] for r in
            dsir_resample(d.repartition(5), t, k=40).collect()]
    assert sel1 == sel2
    assert len(sel1) == 40 and len(set(sel1)) == 40
    n_med = sum(1 for i in sel1 if i < 100)
    assert n_med > 30  # weight bias dominates the noise


def test_dsir_resample_boundary_margin():
    """The dsir_resample registry oracle compares the SELECTED SET
    through bit-stable columns only; the float gumbel key orders the
    selection but is never emitted. That is sound iff no key sits
    within float-noise of the k-boundary — JVM Math.log is 1-ulp, libm
    correctly rounded, so keys can differ cross-engine by ~1e-15
    relative. Measure the actual k-boundary gap in DuckDB at the two
    sweep scale factors and pin it ORDERS OF MAGNITUDE wider, making
    the margin assumption explicit instead of hoped-for (the same
    fixture-margin discipline round-7 ADVICE asked of the semdedup
    parity test)."""
    import os

    import duckdb

    from data_services_spark.registry import ORACLES, _DSIR_RESAMPLE_K

    sql = ORACLES["dsir_resample"]
    # rebuild the oracle's gkey CTE but keep ALL rows, ordered
    inner = sql[: sql.rindex("SELECT doc_id, n_tokens, logweight FROM g")]
    probe = (inner + "SELECT gkey FROM g ORDER BY gkey DESC, doc_id")
    sf_dirs = [d for d in ("sf0.001", "sf0.01")
               if os.path.isdir(f"/root/testdata/{d}")]
    # a missing-fixture pass here would be VACUOUS — the dsir_resample
    # oracle's set-equality soundness rests on this margin being
    # measured, so the absence of any measurable directory must be a
    # loud failure, not a silent green (round-8 review)
    assert sf_dirs, "no testdata scale-factor directory found"
    for sf in sf_dirs:
        sf_dir = f"/root/testdata/{sf}"
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/documents.parquet')")
        keys = [r[0] for r in con.execute(probe).fetchall()]
        con.close()
        k = _DSIR_RESAMPLE_K
        assert len(keys) > k, f"{sf}: corpus smaller than k"
        gap = keys[k - 1] - keys[k]
        scale = max(abs(keys[k - 1]), abs(keys[k]), 1.0)
        # 1e-9 relative is ~1e6 ulps of headroom over the 1-ulp engine
        # divergence; measured gaps on the synthetic corpus are ~1e-2
        assert gap / scale > 1e-9, (
            f"{sf}: k-boundary gap {gap} too narrow for a cross-engine "
            "set guarantee — reseed noise_seed or change k")


def test_dsir_cache_bounded_and_releasable(spark):
    """dsir_logweights persists the bucketed token stream for the
    scoring pass; the unpersist point is the NEXT call (one-slot
    bound) or release_all_slots() at the next query build.  Round-7
    ADVICE: the unbounded form leaked one registered cached DataFrame
    per call — the exact class test_minhash_lsh_leaves_no_cached_rdds
    bans."""
    from data_services_spark.functions.cache import release_all_slots
    from data_services_spark.operators.sampling import dsir_logweights

    def n_cached():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    release_all_slots()
    base = n_cached()
    d = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(30)],
        "doc_id long, text string")
    t = spark.createDataFrame([(99, "alpha beta")],
                              "doc_id long, text string")
    w1 = dsir_logweights(d, t, n_buckets=16)
    assert w1.count() == 30
    assert n_cached() == base + 1
    w2 = dsir_logweights(d, t, n_buckets=16)  # releases w1's stream
    assert w2.count() == 30
    assert n_cached() == base + 1, "second call must not stack a leak"
    # a result built on a released cache stays CORRECT (recompute path)
    assert w1.count() == 30
    release_all_slots()
    assert n_cached() == base
    assert w2.count() == 30


def test_negative_sample_edges_matches_python_reference(spark):
    """Draws recomputed independently in Python (hashlib md5, same
    bucket/representative rules) — every emitted negative and every
    dropped slot must match the reference exactly, and no emitted
    triple may exist in the true edge set."""
    import hashlib

    import pyspark.sql.functions as F  # noqa: F401 (parity with siblings)

    from data_services_spark.operators.sampling import negative_sample_edges

    def h(seed, s):
        return int(hashlib.md5(f"{seed}:{s}".encode()).hexdigest()[:15], 16)

    edges = [("a", "p", "n1"), ("a", "p", "n2"), ("b", "q", "n3"),
             ("c", "p", "n4"), ("c", "p", "n4")]          # dup line
    nodes = [f"n{i}" for i in range(1, 9)]
    e_df = spark.createDataFrame(edges,
                                 "subject string, predicate string, "
                                 "object string")
    n_df = spark.createDataFrame([(n,) for n in nodes], "id string")

    n_buckets, k, seed = 4, 3, 5
    reps = {}
    for n in nodes:
        b = h(seed, n) % n_buckets
        reps[b] = min(reps.get(b, n), n)
    # dense rank over the non-empty buckets, bucket order
    ranked = [reps[b] for b in sorted(reps)]
    truth = set(edges)
    expected = set()
    for (s, p, o) in set(edges):
        for i in range(k):
            # round-10 collision-free draw key: length-prefixed fields
            key = f"{len(s)}:{s}{len(p)}:{p}{len(o)}:{o}{i}"
            rep = ranked[h(seed, key) % len(ranked)]
            if (s, p, rep) not in truth:
                expected.add((s, p, rep, i))

    got = {(r["subject"], r["predicate"], r["neg_object"], r["neg_idx"])
           for r in negative_sample_edges(
               e_df, n_df, k=k, n_buckets=n_buckets, seed=seed).collect()}
    assert got == expected
    assert all((s, p, o) not in truth for (s, p, o, _) in got)
    # determinism: a second run (and a repartitioned input) is identical
    got2 = {(r["subject"], r["predicate"], r["neg_object"], r["neg_idx"])
            for r in negative_sample_edges(
                e_df.repartition(5), n_df.repartition(3), k=k,
                n_buckets=n_buckets, seed=seed).collect()}
    assert got2 == got


def test_negative_sample_every_slot_draws_and_covers_nodes(spark):
    """Two properties of the dense-rank draw. (1) NO MISSES: even with
    n_buckets >> N (where most buckets are empty and a raw
    bucket-modulo draw would silently drop most slots — the measured
    ~14% loss this design replaced), every (edge, slot) either emits a
    negative or was a true-edge collision. (2) COVERAGE: with buckets
    collision-free the draw space is the full node set, so the
    negatives span (nearly) all of it."""
    from data_services_spark.operators.sampling import negative_sample_edges

    e_df = spark.createDataFrame(
        [(f"s{i}", "p", f"n{i % 10}") for i in range(50)],
        "subject string, predicate string, object string")
    n_df = spark.createDataFrame([(f"n{i}",) for i in range(10)],
                                 "id string")
    out = negative_sample_edges(e_df, n_df, k=4, n_buckets=4096,
                                seed=5).collect()
    truth = {(f"s{i}", "p", f"n{i % 10}") for i in range(50)}
    emitted = {(r["subject"], r["predicate"], r["neg_idx"]) for r in out}
    assert all((r["subject"], r["predicate"], r["neg_object"]) not in truth
               for r in out)
    # no duplicate slots, and a floor far above what empty-bucket
    # misses would leave: 200 slots, each dropped only by the 1-in-10
    # true-object collision, so ~180 expected — anything near the old
    # ~14%-loss regime (or the 0 rows the raw modulo gave here) fails
    assert len(emitted) == len(out)
    assert len(out) >= 150
    assert len({r["neg_object"] for r in out}) >= 8


def test_negative_sample_rejects_degenerate_knobs(spark):
    from data_services_spark.operators.sampling import negative_sample_edges
    e = spark.createDataFrame([("a", "p", "b")],
                              "subject string, predicate string, object string")
    n = spark.createDataFrame([("b",)], "id string")
    with pytest.raises(ValueError, match="k must be"):
        negative_sample_edges(e, n, k=0)
    with pytest.raises(ValueError, match="n_buckets"):
        negative_sample_edges(e, n, n_buckets=0)


def test_negative_sample_draw_key_is_collision_free_and_null_safe(spark):
    """Round-10 advice: the old concat_ws('|') draw key conflated
    ('a|b', 'p', 'o') with ('a', 'b|p', 'o') — correlated negatives —
    and silently SKIPPED NULL fields, letting degenerate edges slip
    past the anti join with a hash key borrowed from their non-null
    neighbors. The length-prefixed key must (a) give pipe-bearing
    edges INDEPENDENT draws and (b) yield NO negatives for an edge
    with any NULL field."""
    from data_services_spark.operators.sampling import negative_sample_edges

    nodes = spark.createDataFrame([(f"n{i}",) for i in range(40)],
                                  "id string")
    # under '|'-joining these two edges share one draw key per slot
    e = spark.createDataFrame([("a|b", "p", "o"), ("a", "b|p", "o")],
                              "subject string, predicate string, "
                              "object string")
    rows = negative_sample_edges(e, nodes, k=8, n_buckets=4096,
                                 seed=5).collect()
    draws = {}
    for r in rows:
        draws.setdefault((r["subject"], r["predicate"]), {})[
            r["neg_idx"]] = r["neg_object"]
    shared = [i for i in range(8)
              if draws.get(("a|b", "p"), {}).get(i) is not None
              and draws[("a|b", "p")][i] == draws.get(("a", "b|p"),
                                                      {}).get(i)]
    # independent md5 draws over 40 reps: all-8-equal has prob ~40^-8;
    # requiring <8 matches keeps the assertion deterministic-in-practice
    # while catching the correlated-key regression (which forces 8/8)
    assert len(shared) < 8, draws
    # NULL object -> NULL length-prefixed key -> no negatives emitted
    en = spark.createDataFrame([("a", "p", None), ("b", "q", "o")],
                               "subject string, predicate string, "
                               "object string")
    out = negative_sample_edges(en, nodes, k=2, n_buckets=4096,
                                seed=5).collect()
    assert all(r["subject"] == "b" for r in out)
    assert len(out) == 2
