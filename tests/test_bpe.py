"""BPE subword tokenizer (operators/bpe.py, round-10): pass-order
equivalence against an independent textbook implementation, Spark ==
DuckDB parity on exotic inputs, merge-table well-formedness guards,
and the budget thread-through."""

from __future__ import annotations

import pytest

from data_services_spark.operators.bpe import (
    DEFAULT_MERGES, _validate_merges, bpe_sql, bpe_token_count,
    bpe_tokenize,
)


def _ref_bpe(word: str,
             merges: tuple[tuple[str, str], ...] = DEFAULT_MERGES
             ) -> list[str]:
    """Textbook BPE: iterate merge-the-min-rank-pair until fixpoint,
    merging occurrences left to right — the independent reference the
    ascending-pass implementation must equal (module docstring proof)."""
    ranks = {ab: i for i, ab in enumerate(merges)}
    syms = list(word)
    while True:
        present = [ranks[(syms[i], syms[i + 1])]
                   for i in range(len(syms) - 1)
                   if (syms[i], syms[i + 1]) in ranks]
        if not present:
            return syms
        a, b = merges[min(present)]
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out


WORDS = ["the", "that", "station", "nation", "with", "was", "being",
         "aaa", "thethethe", "q", "42", "con7catenation", "estimated",
         "allocation", "prestation", "outing", "mmment", "thermometer"]


def test_bpe_pass_order_equals_reference(spark):
    """The load-bearing equivalence: one ascending-rank replace() pass
    per rule == textbook iterate-min-rank BPE, for the well-formed
    table. Checked word by word through the real Spark expression."""
    rows = [(i, w) for i, w in enumerate(WORDS)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["bpe_text"].split(" ")
           for r in bpe_tokenize(d).collect()}
    for i, w in enumerate(WORDS):
        norm = "".join(ch if ch.isalnum() else " " for ch in w.lower())
        expect = [t for part in norm.split() for t in _ref_bpe(part)]
        assert got[i] == expect, (w, got[i], expect)


def test_bpe_spark_matches_duckdb_on_exotic_inputs(spark):
    """Cross-engine parity beyond the fixture: punctuation runs,
    unicode, digits, empty and NULL text, exotic whitespace. The
    registry sweep pins the documents table; this pins the corners."""
    import duckdb

    texts = ["The station, that was WITH all-new things!",
             "  \t\n mixed   spacing \f\r here ",
             "++--!!", "", None, "Ünïcode blend café", "a" * 500]
    d = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                              "doc_id long, text string")
    got = {r["doc_id"]: (r["n_words"], r["n_chars"], r["n_bpe_tokens"],
                         r["bpe_text"])
           for r in bpe_tokenize(d).collect()}
    frag = bpe_sql("t")
    con = duckdb.connect()
    for i, t in enumerate(texts):
        row = con.execute(
            f"""SELECT CAST(CASE WHEN length({frag['norm']}) = 0 THEN 0
                     ELSE len(str_split({frag['norm']}, ' ')) END AS BIGINT),
                     CAST(length({frag['norm']}) AS BIGINT),
                     {frag['n_bpe']},
                     {frag['bpe_text']}
                FROM (SELECT ? AS t)""", [t]).fetchone()
        assert got[i] == tuple(row), (t, got[i], row)


def test_bpe_counts_and_budget_threading(spark):
    """bpe_token_count is consistent with the segmentation length, and
    pack_by_token_budget(token_count=...) buckets by BPE tokens."""
    from data_services_spark.operators.sampling import pack_by_token_budget

    d = spark.createDataFrame(
        [(1, "the the the the"), (2, "station station"), (3, "q")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in bpe_tokenize(d).collect()}
    for r in rows.values():
        assert r["n_bpe_tokens"] == len(r["bpe_text"].split(" "))
    assert rows[1]["n_bpe_tokens"] == 4          # 'the' is one token
    assert rows[2]["n_bpe_tokens"] == 6          # st at ion x2
    packed = {r["doc_id"]: (r["n_tokens"], r["chunk_id"])
              for r in pack_by_token_budget(
                  d, budget=5,
                  token_count=bpe_token_count("text")).collect()}
    # exclusive prefix sums over BPE counts 4, 6, 1 -> 0, 4, 10
    assert packed == {1: (4, 0), 2: (6, 0), 3: (1, 2)}


def test_bpe_merge_table_well_formedness_guards():
    """The equivalence proof's preconditions are enforced, not hoped:
    unknown compound components, duplicate outputs, and out-of-alphabet
    symbols all raise."""
    _validate_merges(DEFAULT_MERGES)  # the shipped table is valid
    with pytest.raises(ValueError, match="not the output"):
        _validate_merges((("ab", "c"),))
    with pytest.raises(ValueError, match="duplicate merge output"):
        _validate_merges((("a", "b"), ("a", "b")))
    with pytest.raises(ValueError, match="outside"):
        _validate_merges((("a", "_"),))
    with pytest.raises(ValueError, match="outside"):
        _validate_merges((("A", "b"),))


def test_chunk_documents_bpe_windows_cover_all_subwords(spark):
    """chunk_documents(tokens=bpe_subwords(...)): windows slice the
    SUBWORD stream (model-real context budgeting) and keep the
    coverage contract — every subword lands in >= 1 chunk, overlap =
    chunk - stride, the tail is never dropped."""
    import pyspark.sql.functions as F

    from data_services_spark.operators.bpe import bpe_subwords, bpe_tokenize
    from data_services_spark.operators.text import chunk_documents

    d = spark.createDataFrame(
        [(1, "station " * 40), (2, "q"), (3, "")],
        "doc_id long, text string")
    n_bpe = {r["doc_id"]: r["n_bpe_tokens"]
             for r in bpe_tokenize(d).collect()}
    assert n_bpe == {1: 120, 2: 1, 3: 0}  # station = st at ion
    out = chunk_documents(d, chunk_tokens=64, stride=48,
                          tokens=bpe_subwords("text")).collect()
    rows = {}
    for r in out:
        rows.setdefault(r["doc_id"], {})[r["chunk_id"]] = r
    # doc 1: 120 subwords -> starts 0, 48, 96 -> sizes 64, 64, 24
    assert {c: rows[1][c]["n_chunk_tokens"] for c in rows[1]} \
        == {0: 64, 1: 64, 2: 24}
    # reconstruction: stride-prefix of each chunk + full tail = stream
    stream = []
    for c in sorted(rows[1]):
        toks = rows[1][c]["chunk_text"].split(" ")
        stream.extend(toks if c == max(rows[1]) else toks[:48])
    assert stream == ["st", "at", "ion"] * 40
    assert rows[2][0]["chunk_text"] == "q"
    assert 3 not in rows  # empty text -> zero chunks, no fabricated id


# ---------------------------------------------------------------------------
# Learned merge tables (round 11): trainer decision parity


def _sennrich_train(word_counts, num_merges, min_count=2):
    """Independent reference trainer, Sennrich'16 Figure-1 style
    (get_stats over symbol-tuple vocab + merge_vocab), sharing only
    the DECISION RULES with the shipped implementations: all-adjacent
    pair counting weighted by word frequency, argmax by (count desc,
    pair asc), stop under min_count, skip output-string collisions."""
    vocab = {tuple(w): c for w, c in word_counts.items() if w}
    merges, outputs = [], set()
    for _ in range(num_merges):
        stats = {}
        for syms, c in vocab.items():
            for pair in zip(syms, syms[1:]):
                stats[pair] = stats.get(pair, 0) + c
        best, best_key = None, None
        for (a, b), cnt in stats.items():
            if cnt < min_count or a + b in outputs:
                continue
            key = (-cnt, a, b)
            if best_key is None or key < best_key:
                best, best_key = (a, b), key
        if best is None:
            break
        a, b = best
        merges.append((a, b))
        outputs.add(a + b)
        nv = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nv[tuple(out)] = nv.get(tuple(out), 0) + c
        vocab = nv
    return tuple(merges)


TRAIN_FIXTURES = (
    # ordinary English-ish Zipf
    {"the": 40, "then": 12, "there": 9, "station": 7, "nation": 7,
     "that": 15, "with": 11, "singing": 5, "ringing": 4, "thing": 8},
    # tie-break stress: equal counts force the lexicographic rule
    {"ab": 5, "cd": 5, "ef": 5, "abcd": 5, "cdef": 5},
    # output-collision stress: "ab"+"c" vs "a"+"bc" both reachable
    {"abc": 9, "ab": 8, "bc": 8, "zabcz": 6},
    # degenerate: repeats within one word (overlap counting)
    {"aaaa": 7, "aa": 3, "baab": 4},
)


def test_train_merges_py_equals_independent_reference():
    """The shipped pure-Python trainer (the import-time TRAINED_MERGES
    builder) decision-matches the independent Sennrich-style reference
    on every fixture, at two table sizes."""
    from data_services_spark.operators.bpe import train_merges_py

    for wc in TRAIN_FIXTURES:
        for r in (5, 30):
            assert train_merges_py(wc, r) == _sennrich_train(wc, r), wc


def test_bpe_train_distributed_equals_reference(spark):
    """The DISTRIBUTED trainer learns the identical table from a real
    corpus DataFrame — including the word-frequency compression pass
    (explode+groupBy) the Python side mirrors."""
    from data_services_spark.operators.bpe import (
        _corpus_word_counts, bpe_train, train_merges_py)

    texts = ["the station, that was THE thing!",
             "singing and ringing, there and then",
             "aaaa aa baab abc ab bc zabcz", "", "the the the"]
    d = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                              "doc_id long, text string")
    want = train_merges_py(_corpus_word_counts(texts), 25)
    assert want == _sennrich_train(_corpus_word_counts(texts), 25)
    # both venues: the distributed loop (forced) and the auto-selected
    # driver path over the distributed word-count pass
    assert bpe_train(d, num_merges=25, checkpoint_every=4,
                     max_driver_vocab=0) == want
    assert bpe_train(d, num_merges=25) == want


def test_trained_artifact_matches_reference_and_tokenizes_textbook(spark):
    """TRAINED_MERGES is exactly the reference-trained table over the
    fixed corpus, is well-formed, and the ascending-pass tokenizer
    equals textbook min-rank BPE under it (the equivalence holds for
    ANY well-formed table — re-pinned on the learned one)."""
    from data_services_spark.operators.bpe import (
        TRAIN_CORPUS, TRAINED_MERGES, _corpus_word_counts, bpe_tokenize)

    assert TRAINED_MERGES == _sennrich_train(
        _corpus_word_counts(TRAIN_CORPUS), 40)
    _validate_merges(TRAINED_MERGES)

    d = spark.createDataFrame([(i, w) for i, w in enumerate(WORDS)],
                              "doc_id long, text string")
    got = {r["doc_id"]: r["bpe_text"].split(" ")
           for r in bpe_tokenize(d, merges=TRAINED_MERGES).collect()}
    for i, w in enumerate(WORDS):
        norm = "".join(ch if ch.isalnum() else " " for ch in w.lower())
        expect = [t for part in norm.split()
                  for t in _ref_bpe(part, TRAINED_MERGES)]
        assert got[i] == expect, (w, got[i], expect)


def test_bpe_train_on_real_corpus_matches_reference(spark):
    """Trainer parity on the actual documents table (sf0.001): the
    distributed loop's word-frequency compression + pair counting over
    a real Zipf corpus decision-match the Python reference fed the
    same word counts."""
    from data_services_spark.operators.bpe import (
        _corpus_word_counts, bpe_train, train_merges_py)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    texts = [r["text"] for r in docs.select("text").collect()
             if r["text"] is not None]
    want = train_merges_py(_corpus_word_counts(texts), 12)
    assert len(want) == 12  # the corpus supports a full table
    assert bpe_train(docs, num_merges=12, max_driver_vocab=0) == want
    assert bpe_train(docs, num_merges=12) == want


# ---------------------------------------------------------------------------
# Dict-encoded tokenizer (round 12): the real-vocabulary physical form


def test_bpe_dict_equals_chain_on_corners(spark):
    """Cross-form parity on the corner inputs: the Arrow kernel and
    the replace chain must agree cell for cell — including NULL text
    (all-NULL metrics), empty text, unicode folding, exotic
    whitespace, and long repetition."""
    from data_services_spark.operators.bpe import (
        bpe_tokenize, bpe_tokenize_dict,
    )

    texts = ["The station, that was WITH all-new things!",
             "  \t\n mixed   spacing \f\r here ",
             "++--!!", "", None, "Ünïcode blend café", "a" * 500,
             "the the the the the", "q 42 con7catenation"]
    d = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                              "doc_id long, text string")
    chain = {r["doc_id"]: tuple(r)[1:] for r in bpe_tokenize(d).collect()}
    dict_ = {r["doc_id"]: tuple(r)[1:]
             for r in bpe_tokenize_dict(d).collect()}
    assert dict_ == chain


def _syllable_corpus():
    """Deterministic corpus with a REAL-sized vocabulary: ~3.4k
    distinct CV-syllable words under a Zipf-ish repetition profile —
    enough pair diversity to train a 1.5k-merge table (the scale at
    which the chain form is infeasible)."""
    from itertools import product

    words = ["".join(p) for p in product(
        "bcdfgh", "aeiou", "lmnrst", "aeiou", ("", "x", "k", "sh"))]
    docs = []
    for i in range(400):
        # Zipf-ish: early words recur often, the tail is rare
        picks = [words[(i * 7 + j * j) % len(words)] for j in range(30)]
        picks += [words[j % 97] for j in range(i % 13)]
        docs.append(" ".join(picks))
    return docs


def test_bpe_dict_parity_at_real_vocab_scale(spark):
    """THE scale-gap closure pin (r11 verdict next-round #1): train a
    1.5k-merge table — far past where the nested-replace chain can
    compile — and verify the dict kernel against the independent
    textbook min-rank reference word by word through real Spark
    execution, on a corpus with thousands of distinct words."""
    from data_services_spark.operators.bpe import (
        _corpus_word_counts, _validate_merges, bpe_tokenize_dict,
        train_merges_py,
    )

    corpus = _syllable_corpus()
    table = train_merges_py(_corpus_word_counts(corpus), 1500,
                            min_count=1)
    assert len(table) >= 1500, len(table)
    _validate_merges(table)

    sample = corpus[::23] + ["", None]
    d = spark.createDataFrame(
        [(i, t) for i, t in enumerate(sample)],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["n_bpe_tokens"], r["bpe_text"])
           for r in bpe_tokenize_dict(d, merges=table).collect()}
    for i, t in enumerate(sample):
        if t is None:
            assert got[i] == (None, None)
            continue
        toks = [s for w in t.split() for s in _ref_bpe(w, table)]
        assert got[i] == (len(toks), " ".join(toks)), (i, t[:40])


def test_bpe_dict_equals_chain_on_documents_table(spark):
    """Cross-form parity on the real documents fixture at a mid-size
    LEARNED table (89 merges — the corpus' full capacity), where both
    forms execute: chain output == dict output row for row."""
    from data_services_spark.operators.bpe import (
        _corpus_word_counts, bpe_tokenize, bpe_tokenize_dict,
        train_merges_py,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    texts = [r["text"] for r in docs.select("text").collect()
             if r["text"] is not None]
    table = train_merges_py(_corpus_word_counts(texts), 89)
    d = docs.select("doc_id", "text")
    chain = sorted(tuple(r) for r in bpe_tokenize(d, merges=table).collect())
    dict_ = sorted(tuple(r)
                   for r in bpe_tokenize_dict(d, merges=table).collect())
    assert dict_ == chain


def test_bpe_ascii_contract_guard(spark):
    """assert_bpe_ascii_lossless: trips on non-ASCII LETTERS (content
    loss), stays silent on ASCII-only corpora and on non-ASCII
    punctuation/whitespace (boundary folds, by design)."""
    import pytest

    from data_services_spark.operators.bpe import assert_bpe_ascii_lossless

    ok = spark.createDataFrame(
        [(1, "plain ascii text 42"), (2, "dash—and  space!")],
        "doc_id long, text string")
    assert_bpe_ascii_lossless(ok)  # no raise
    bad = spark.createDataFrame(
        [(1, "plain"), (2, "café blend")],
        "doc_id long, text string")
    with pytest.raises(ValueError, match="non-ASCII"):
        assert_bpe_ascii_lossless(bad)


def test_bpe_train_batched_rounds_and_parity(spark):
    """The round-12 batched distributed loop: same merge table as the
    sequential venue on the English TRAIN_CORPUS at num_merges=40,
    in fewer shuffle rounds; max_batch=1 reproduces the r11
    one-merge-per-round loop exactly; the safe-batch selector is
    decision-pinned on the adversarial fixtures too."""
    from data_services_spark.operators.bpe import (
        TRAIN_CORPUS, TRAINED_MERGES, _corpus_word_counts,
        _safe_merge_batch, bpe_train, train_merges_py,
    )

    d = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TRAIN_CORPUS)],
        "doc_id long, text string")
    got = bpe_train(d, num_merges=40, max_driver_vocab=0)
    assert got == TRAINED_MERGES
    rounds = bpe_train.last_distributed_rounds
    # measured 17 rounds for 40 merges (2.4x fewer barriers). The
    # prefix rule is MAXIMAL for pair-stats-only inference, so this
    # pins "strictly better than 1/merge" rather than an unreachable
    # ratio.
    assert rounds < 40 * 0.55, rounds

    seq = bpe_train(d, num_merges=12, max_driver_vocab=0, max_batch=1)
    assert seq == TRAINED_MERGES[:12]
    assert bpe_train.last_distributed_rounds == 12

    # fixture-level: batched distributed == python reference on the
    # tie-break / collision / overlap stress corpora
    for wc in TRAIN_FIXTURES:
        texts = [" ".join([w] * c) for w, c in wc.items()]
        dd = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)],
            "doc_id long, text string")
        want = train_merges_py(_corpus_word_counts(texts), 20)
        assert bpe_train(dd, num_merges=20, max_driver_vocab=0) == want, wc

    # selector unit pins: tie between a created-pair bound and the
    # next candidate stops the batch (strict-inequality rule), and a
    # symbol conflict stops it
    stats = [("a", "b", 10), ("c", "d", 10)]
    # (x,a)/(b,y) sources absent -> no created bound: both commit
    assert _safe_merge_batch(stats, False, set(), 10) == \
        [("a", "b"), ("c", "d")]
    stats = [("a", "b", 10), ("x", "a", 10), ("c", "d", 10)]
    # (x,a) is both a conflict (shares a) at its turn and a created-
    # pair source bounding (c,d)'s tie: batch stops after (a,b)
    assert _safe_merge_batch(stats, False, set(), 10) == [("a", "b")]
    stats = [("a", "b", 10), ("c", "d", 9), ("e", "f", 8)]
    assert _safe_merge_batch(stats, False, set(), 10) == \
        [("a", "b"), ("c", "d"), ("e", "f")]
    stats = [("a", "b", 10), ("b", "c", 9)]
    assert _safe_merge_batch(stats, False, set(), 10) == [("a", "b")]


# ---------------------------------------------------------------------------
# Property tests (round 12): the batched-selector and the two-form
# equivalence under RANDOM vocabularies — pure-Python simulations of
# the Spark loops, so hypothesis can afford hundreds of cases.


def _stats_of(vocab):
    st_ = {}
    for syms, c in vocab.items():
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            st_[p] = st_.get(p, 0) + c
    return st_


def _simulate_batched(wc, num_merges, min_count=2, stats_width=512):
    """Driver-side mirror of bpe_train's distributed strict-order
    loop: per round, priority-sorted (truncated) stats ->
    _safe_merge_batch -> apply the batch sequentially."""
    from data_services_spark.operators.bpe import (
        _merge_word, _safe_merge_batch,
    )

    vocab = {tuple(w): c for w, c in wc.items() if w}
    merges, outputs = [], set()
    while len(merges) < num_merges:
        st_ = _stats_of(vocab)
        cands = sorted(
            ((a, b, c) for (a, b), c in st_.items()
             if c >= min_count and a + b not in outputs),
            key=lambda t: (-t[2], t[0], t[1]))[:stats_width]
        if not cands:
            break
        batch = _safe_merge_batch(
            cands, truncated=len(cands) >= stats_width,
            outputs=outputs, limit=num_merges - len(merges))
        if not batch:
            break
        for a, b in batch:
            merges.append((a, b))
            outputs.add(a + b)
            nv = {}
            for syms, c in vocab.items():
                m = _merge_word(syms, a, b)
                nv[m] = nv.get(m, 0) + c
            vocab = nv
    return tuple(merges)


def test_safe_batch_property_random_vocabs():
    """THE decision-parity property for the batched trainer: on
    hundreds of random Zipf-ish vocabularies over a tiny alphabet
    (maximally conflict- and tie-prone), the batched strict-order
    simulation produces the IDENTICAL merge table to the sequential
    reference — at full stats width AND under aggressive truncation
    (width 3, where the tail bound must hold)."""
    from hypothesis import given, settings, strategies as st

    from data_services_spark.operators.bpe import train_merges_py

    word = st.text(alphabet="abc", min_size=1, max_size=6)
    wc_strategy = st.dictionaries(word, st.integers(1, 30),
                                  min_size=1, max_size=12)

    @settings(max_examples=300, deadline=None)
    @given(wc=wc_strategy, n=st.integers(1, 20),
           width=st.sampled_from([3, 5, 512]))
    def prop(wc, n, width):
        want = train_merges_py(wc, n)
        got = _simulate_batched(wc, n, stats_width=width)
        assert got == want, (wc, n, width)

    prop()


def test_min_rank_equals_ascending_pass_random_tables():
    """The two-form equivalence (module-docstring proof) on RANDOM
    learned tables: _bpe_word's min-rank loop == the ascending-pass
    evaluation the replace chain implements, word by word, for
    tables trained from random corpora."""
    from hypothesis import given, settings, strategies as st

    from data_services_spark.operators.bpe import (
        _bpe_word, _merge_word, train_merges_py,
    )

    word = st.text(alphabet="abcd", min_size=1, max_size=8)
    wc_strategy = st.dictionaries(word, st.integers(1, 20),
                                  min_size=1, max_size=10)

    @settings(max_examples=300, deadline=None)
    @given(wc=wc_strategy, n=st.integers(1, 25),
           probe=st.text(alphabet="abcd", min_size=0, max_size=12))
    def prop(wc, n, probe):
        table = train_merges_py(wc, n, min_count=1)
        ranks = {p: i for i, p in enumerate(table)}
        got = list(_bpe_word(probe, table, ranks)) if probe else []
        # ascending-pass: one left-to-right pass per rule, in rank order
        syms = tuple(probe)
        for a, b in table:
            syms = _merge_word(syms, a, b)
        assert got == list(syms), (wc, n, probe, table)

    prop()
