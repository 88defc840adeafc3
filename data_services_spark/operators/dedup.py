"""Deduplication operators for LLM training-data pipelines (SURVEY §2.11
L1/L2): exact, fingerprint, MinHash+LSH, SimHash, and exact n-gram Jaccard.

All hashing stays JVM-side (``sha2``/``md5``/``xxhash64`` + higher-order
array functions) — no Python in the hot path. MinHash/SimHash are
deterministic (fixed seed constants), so repeated runs bucket identically.

Scale notes:
- exact dedup is one shuffle on the content hash;
- MinHash LSH turns the quadratic all-pairs problem into per-band bucket
  joins: cost ~ sum over buckets of |bucket|^2, controlled by (bands, rows);
- the exact Jaccard verifier joins only LSH-candidate pairs, never all pairs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from data_services_spark.operators.text import WS_SPLIT


def _norm_text(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(c))


def exact_text_dedup(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """L1: group by sha256 of normalized text; keep the lowest id as the
    canonical representative, count the duplicates."""
    h = F.sha2(_norm_text(text_col), 256).alias("content_hash")
    return (docs.select(h, F.col(id_col))
            .groupBy("content_hash")
            .agg(F.min(id_col).alias("keep_id"),
                 F.count(F.lit(1)).alias("n_dups")))


def fingerprint(docs: DataFrame, text_col: str = "text") -> Column:
    """Stable 128-bit document fingerprint (md5 of normalized text)."""
    return F.md5(_norm_text(text_col))


def md5_long_hash(col: Column, seed) -> Column:
    """Portable 60-bit token hash: integer value of the first 15 hex chars
    of md5(seed:token). Slower than xxhash64 but expressible identically
    in DuckDB (``('0x' || substr(md5(...), 1, 15))::BIGINT``), which turns
    the "approximate" MinHash/SimHash family into exactly-oracle-checkable
    algorithms (they are deterministic once the hash family is fixed)."""
    return F.conv(F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)),
                              1, 15), 16, 10).cast("long")


def _slot_hash(family: str, col: Column, seed) -> Column:
    if family == "md5":
        return md5_long_hash(col, seed)
    if seed is None:  # unseeded — matches plain xxhash64(col) composition
        return F.xxhash64(col)
    return F.xxhash64(col, F.lit(seed)) if not isinstance(seed, str) \
        else F.xxhash64(F.concat(F.lit(seed + ":"), col))


def shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles of a whitespace-tokenized text column."""
    toks = F.split(_norm_text(col), WS_SPLIT)
    k = F.size(toks) - (n - 1)
    return F.when(k <= 0, F.array(F.concat_ws(" ", toks))).otherwise(
        F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.concat_ws(" ", *[F.element_at(toks, (i + j + 1).cast("int"))
                                         for j in range(n)]),
        )
    )


def minhash_signature(col: Column | str, num_hashes: int = 32,
                      shingle_n: int = 3) -> Column:
    """Array of `num_hashes` min-hashes over word shingles.

    Hash family: xxhash64(shingle, seed_i) with fixed per-slot seeds —
    deterministic across runs and partitions.

    NOTE: inlines the shingle expression into every hash slot — fine for a
    single column expression, but for DataFrame pipelines prefer
    ``minhash_signatures`` below, which materializes the shingle array once
    (18× faster end-to-end: the inlined form duplicates the shingle subtree
    ``num_hashes`` times and codegen cost explodes).
    """
    sh = shingles(col, shingle_n)
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(F.transform(sh, lambda s: F.xxhash64(s, i))),
    )


def minhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_hashes: int = 32,
                       shingle_n: int = 3,
                       hash_family: str = "xxhash64") -> DataFrame:
    """(id, sig) DataFrame via explode -> wide hash columns -> groupBy(min).

    Deliberately NOT the nested-lambda form (`transform(seq, i ->
    array_min(transform(shingles, s -> xxhash64(s, i))))`): that expression
    exceeds codegen limits and falls back to interpreted evaluation (~25s
    for 500 docs at sf0.01). The explode/groupBy form stays inside
    WholeStageCodegen, gets map-side partial mins before the shuffle, and
    at 100 TB is a plain hash aggregation on doc_id.

    The signature derivation is CPU-bound (num_hashes hash evaluations
    per shingle), so its parallelism is capped by the INPUT split count,
    not by data volume — a corpus arriving as one or two parquet files
    serializes the whole fold (measured, SCALE.md round-9: 100k docs
    over the sf1 file's 2 splits = 36.7s; `.repartition(32)` first =
    5.8s, 6.3×). The size-gated widen guard therefore runs first: the
    per-shingle ``num_hashes``-fold hash fan-out is exactly the
    per-input-byte-heavy chain the CHAIN gate exists for (measured
    sf0.1: the 16-slot md5 fold over the single-split 584 KB corpus
    serialized on one core). The guard no-ops on streaming plans, on
    >=cores-split scans (any real cluster layout) and under the
    small-sf gate, so pinned plans and cluster shapes are unchanged;
    values are repartition-stable (groupBy(id) mins are
    order-insensitive)."""
    from data_services_spark.plans.widen import (
        CHAIN_MIN_BYTES, widen_if_narrow)
    docs = widen_if_narrow(docs.select(id_col, text_col),
                           min_bytes=CHAIN_MIN_BYTES)
    toks = docs.select(F.col(id_col).alias("id"),
                       F.explode(shingles(text_col, shingle_n)).alias("__sh"))
    hashed = toks.select(
        "id", *[_slot_hash(hash_family, F.col("__sh"), i).alias(f"__h{i}")
                for i in range(num_hashes)])
    agg = hashed.groupBy("id").agg(
        *[F.min(f"__h{i}").alias(f"__h{i}") for i in range(num_hashes)])
    return agg.select(
        "id", F.array(*[f"__h{i}" for i in range(num_hashes)]).alias("sig"))


def band_hashes(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", num_hashes: int = 32,
                bands: int = 8, shingle_n: int = 3,
                hash_family: str = "xxhash64") -> DataFrame:
    """(id, sig, band, bh) — the LSH banding step shared by the batch
    pair join (:func:`minhash_lsh_pairs`) and the streaming incremental
    dedup (streaming/neardup.py): MinHash signature split into `bands`
    bands of `num_hashes/bands` rows, each band's slice hashed to one
    bucket key ``bh``. Two documents are near-dup candidates iff they
    agree on (band, bh) for at least one band."""
    rows = num_hashes // bands
    sig = minhash_signatures(docs, text_col, id_col, num_hashes, shingle_n,
                             hash_family)
    return sig.select(
        "id", "sig",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    _slot_hash(hash_family,
                               F.concat_ws(
                                   ",", F.slice("sig", b * rows + 1, rows)),
                               "band").alias("bh"),
                ),
            )
        ).alias("bb"),
    ).select("id", "sig", F.col("bb.band").alias("band"),
             F.col("bb.bh").alias("bh"))


def minhash_lsh_pairs(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 32,
                      bands: int = 8, shingle_n: int = 3,
                      hash_family: str = "xxhash64") -> DataFrame:
    """L2: candidate near-duplicate pairs via banded MinHash LSH.

    Signature is split into `bands` bands of `num_hashes/bands` rows; docs
    sharing any band hash become a candidate pair. Returns (id_a, id_b,
    est_jaccard) with id_a < id_b, est_jaccard = fraction of matching
    signature slots (deduped across bands).
    """
    # No persist: the self-join's two branches share an identical groupBy
    # exchange, which Spark's ReuseExchange rule computes once (plan-asserted
    # in tests/test_operators.py::test_minhash_lsh_leaves_no_cached_rdds)
    # — an explicit .persist() here would leak cached
    # blocks across calls in a long-lived session with no unpersist point
    # (the consumer of this lazy DataFrame decides when execution happens).
    banded = band_hashes(docs, text_col, id_col, num_hashes, bands,
                         shingle_n, hash_family)
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (a.join(b, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.bh") == F.col("b.bh"))
                    & (F.col("a.id") < F.col("b.id")))
             .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                     F.col("a.sig").alias("sig_a"), F.col("b.sig").alias("sig_b"))
             .dropDuplicates(["id_a", "id_b"]))
    est = (F.size(F.filter(F.zip_with("sig_a", "sig_b",
                                      lambda x, y: x == y), lambda m: m))
           / F.lit(float(num_hashes))).alias("est_jaccard")
    return pairs.select("id_a", "id_b", est)


def simhash64(col: Column | str, shingle_n: int = 2) -> Column:
    """64-bit SimHash over word shingles, as a 16-hex-char string.

    Per bit position: sum +-1 votes by whether xxhash64(shingle) has the bit
    set; sign of the sum decides the output bit. Implemented over the binary
    string of each hash (``bin`` + per-position ``substr``) because Spark's
    shift/substring builtins take only literal positions — stays pure JVM
    array expressions either way.
    """
    binstrs = F.transform(shingles(col, shingle_n),
                          lambda s: F.lpad(F.bin(F.xxhash64(s)), 64, "0"))
    return _simhash_bits(binstrs)


def _simhash_bits(binstrs: Column) -> Column:
    bits = F.transform(
        F.sequence(F.lit(1), F.lit(64)),  # 1-based position, MSB first
        lambda p: F.when(
            F.aggregate(
                binstrs, F.lit(0),
                lambda acc, b: acc + F.when(b.substr(p, F.lit(1)) == "1",
                                            1).otherwise(-1),
            ) > 0, F.lit("1")).otherwise(F.lit("0")),
    )
    return F.lpad(F.conv(F.array_join(bits, ""), 2, 16), 16, "0")


def simhash64_df(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", shingle_n: int = 2,
                 out_col: str = "simhash",
                 hash_family: str = "xxhash64") -> DataFrame:
    """(id, simhash) DataFrame via explode -> per-bit vote columns ->
    groupBy(sum) — same codegen-safe shape as ``minhash_signatures`` (the
    single-expression form in ``simhash64`` is interpreted-mode slow on
    real corpora and kept only for column-level composition).

    Per shingle row: 64 vote columns (+1 if bit set else -1), each a
    literal-position substr of the hash's binary string — all codegen'd.
    groupBy(id).sum gives the bit votes with map-side combine."""
    # md5 family hashes carry 60 meaningful bits (15 hex chars)
    n_bits, hex_w = (60, 15) if hash_family == "md5" else (64, 16)
    # xxhash64 family is UNSEEDED so this fingerprint equals simhash64()'s
    # (both hash the raw shingle) — the two physical shapes of the same
    # algorithm must agree; md5 family keeps its 'sim' seed, mirrored in
    # the simhash_md5 oracle SQL.
    seed = "sim" if hash_family == "md5" else None
    # round 13 (guide §2.2): the 60/64 vote columns per shingle are a
    # chain-weight fold — widen a narrow scan so the explode+votes do
    # not serialize on one core (same gate/no-op policy as
    # minhash_signatures; groupBy(id) sums are order-insensitive).
    from data_services_spark.plans.widen import (
        CHAIN_MIN_BYTES, widen_if_narrow)
    docs = widen_if_narrow(docs.select(id_col, text_col),
                           min_bytes=CHAIN_MIN_BYTES)
    hashed = docs.select(
        F.col(id_col),
        F.explode(shingles(text_col, shingle_n)).alias("__sh"),
    ).select(id_col, _slot_hash(hash_family, F.col("__sh"), seed)
             .alias("__h"))
    # vote_p = 2*bit_p - 1, all integer arithmetic (no string ops)
    votes = hashed.select(
        id_col, *[(F.shiftright("__h", p).bitwiseAND(F.lit(1)) * 2 - 1)
                  .alias(f"__v{p}") for p in range(n_bits)])
    agg = votes.groupBy(id_col).agg(
        *[F.sum(f"__v{p}").alias(f"__v{p}") for p in range(n_bits)])
    # MSB-first assembly to match simhash64's bin()-string bit order
    fp = None
    for p in range(n_bits):
        term = F.shiftleft(F.when(F.col(f"__v{p}") > 0, 1).otherwise(0)
                           .cast("long"), p)
        fp = term if fp is None else fp + term
    return agg.select(id_col,
                      F.lpad(F.hex(fp), hex_w, "0").alias(out_col))


def verify_jaccard(docs: DataFrame, candidates: DataFrame,
                   text_col: str = "text", id_col: str = "doc_id",
                   threshold: float = 0.8) -> DataFrame:
    """Exact token-set Jaccard computed ONLY on candidate (id_a, id_b)
    pairs — the production near-dup shape: LSH proposes, this verifies.
    Cost is O(|candidates|), never O(n^2); the two token joins broadcast
    when the candidate set is small relative to the corpus."""
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.array_distinct(F.split(_norm_text(text_col), WS_SPLIT))
        .alias("toks"))
    a = toks.select(F.col("id").alias("id_a"), F.col("toks").alias("t_a"))
    b = toks.select(F.col("id").alias("id_b"), F.col("toks").alias("t_b"))
    inter = F.size(F.array_intersect("t_a", "t_b"))
    return (candidates.select("id_a", "id_b")
            .join(a, "id_a").join(b, "id_b")
            .withColumn("jaccard",
                        inter / (F.size("t_a") + F.size("t_b") - inter))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def jaccard_pairs(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  block_cols: tuple[str, ...] = (),
                  threshold: float = 0.5) -> DataFrame:
    """Exact token-set Jaccard over candidate pairs, blocked by `block_cols`
    to bound the pair count (at scale: block by LSH bucket, language, or
    length band — never run unblocked).

    Returns (id_a, id_b, jaccard) for pairs meeting `threshold`.

    Round 13 (guide §2.2/§3.1): widen a narrow scan first. The planner
    broadcasts the exploded token stream (its estimate comes from the
    tiny file, not the explode fan-out), so the OTHER side — the probe
    — carries the entire quadratic pair enumeration plus the partial
    pair-count aggregate; on a single-split local scan that all ran on
    ONE task, and the two size aggregates re-derived the explode fold
    on one task each (measured sf0.1: 24.2 s serial -> 3.3 s widened,
    plan unchanged apart from the round-robin exchange). No-op for
    streaming / >=cores-split / small inputs; join+agg output is
    order-insensitive."""
    from data_services_spark.plans.widen import (
        CHAIN_MIN_BYTES, widen_if_narrow)
    docs = widen_if_narrow(docs.select(*block_cols, id_col, text_col),
                           min_bytes=CHAIN_MIN_BYTES)
    toks = (docs.select(*block_cols, F.col(id_col).alias("id"),
                        F.explode(F.array_distinct(
                            F.split(_norm_text(text_col), WS_SPLIT))).alias("tok")))
    sizes = toks.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = toks.alias("a"), toks.alias("b")
    cond = (F.col("a.tok") == F.col("b.tok")) & (F.col("a.id") < F.col("b.id"))
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    inter = (a.join(b, cond)
             .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
             .agg(F.count(F.lit(1)).alias("inter")))
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (inter.join(sa, "id_a").join(sb, "id_b")
            .withColumn("jaccard",
                        F.col("inter") /
                        (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def prefix_jaccard_join(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id",
                        threshold: float = 0.8) -> DataFrame:
    """EXACT token-set Jaccard self-join via prefix filtering (the
    SSJoin/PPJoin family — Chaudhuri et al. ICDE 2006, Xiao et al.
    WWW 2008): every pair with Jaccard >= ``threshold``, with NO false
    negatives and no LSH probability trade — the scalable exact
    counterpart to :func:`minhash_lsh_pairs` + verify.

    The filter: order each document's distinct tokens by global
    document frequency ascending (rarest first; ties broken by token,
    so the order is total and engine-independent), and explode only the
    first ``p = s - ceil(t*s) + 1`` tokens as join keys. Prefix
    theorem: two sets with J >= t overlap in >= ceil(t*max(|A|,|B|))
    elements, and two sets whose prefixes (under one global order)
    share nothing can overlap in at most (|A| - p_A) < ceil(t*|A|)
    elements — so every qualifying pair collides on >= 1 prefix token.
    Joining on RAREST-first prefixes is what bounds the candidate
    blow-up: a stopword shared by half the corpus is (almost) never in
    anyone's prefix, while `jaccard_pairs`' all-token join would
    quadratically explode on it. A symmetric length filter
    (t*|B| <= |A| <= |B|/t) prunes candidates further before the
    verify.

    Verify is exact set intersection over the full token arrays
    (`array_intersect` on the already-distinct arrays) with the
    threshold test done in INTEGER arithmetic ((num+den)*inter >=
    num*(sa+sb) for t = num/den), so no float comparison can disagree
    with the oracle; the reported jaccard is one double division.

    Shape at scale: one token-df shuffle (the groupBy), one shuffle to
    rebuild per-doc ordered arrays, one candidate join keyed on prefix
    tokens, one verify join keyed on doc id. Exact-duplicate groups
    should be collapsed by :func:`exact_text_dedup` FIRST — identical
    docs share identical prefixes and would pair quadratically (the
    standard PPJoin preprocessing step).

    PUBLIC CONTRACT — threshold snapping (round-10 advice): the
    effective threshold is the closest rational ``num/den`` with
    ``den <= 1000`` (0.8 -> 4/5 exactly, 1/3 -> 1/3 exactly). The
    bound exists because the integer verify multiplies token counts by
    num and den — a raw float-derived fraction (1/3 as
    3333.../10^16) overflows BIGINT on real documents. Any threshold
    the snap actually MOVES (e.g. 0.80005 -> 0.8) emits a
    ``UserWarning`` naming both values; thresholds expressible with
    den <= 1000 — every practical setting, including every float that
    rounds to the same double as its snapped fraction (0.8, 1/3) —
    are used exactly and warn nothing.

    Returns (id_a, id_b, inter, sz_a, sz_b, jaccard), id_a < id_b.
    """
    import warnings
    from fractions import Fraction

    if not 0 < threshold <= 1:
        raise ValueError("threshold must be in (0, 1]")
    # The threshold is interpreted as the closest rational with
    # denominator <= 1000 (0.8 -> 4/5, 1/3 -> 1/3 exactly): the raw
    # Fraction(str(t)) of a float like 1/3 is 3333333333333333/10^16,
    # and num*sz / (num+den)*inter below would overflow BIGINT on any
    # real document (confirmed: ARITHMETIC_OVERFLOW under ANSI, silent
    # wrong prefix lengths — false negatives — without it). den <= 1000
    # keeps every product within 2^63 for token counts up to 2^52.
    frac = Fraction(str(threshold)).limit_denominator(1000)
    num, den = frac.numerator, frac.denominator
    if abs(float(frac) - threshold) > 1e-9:
        warnings.warn(
            f"prefix_jaccard_join threshold {threshold} snapped to "
            f"{num}/{den} = {float(frac):.6f} (rational with den <= "
            "1000, the BIGINT-safe verify contract); pass a threshold "
            "expressible with denominator <= 1000 to silence",
            UserWarning, stacklevel=2)

    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(
            F.split(_norm_text(text_col), WS_SPLIT))).alias("tok"))
    dfs = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    arrs = (toks.join(dfs, "tok")
            .groupBy("id")
            .agg(F.transform(
                F.sort_array(F.collect_list(F.struct("df", "tok"))),
                lambda x: x["tok"]).alias("tks"))
            .withColumn("sz", F.size("tks").cast("long")))
    # The ordered-array relation is read three times (prefix explode +
    # both verify sides). It sits above the per-doc groupBy's exchange,
    # which ReuseExchange computes once; a one-slot persist measured
    # slower (sf0.1, two sessions each: 22.7, 24.4 s with it; 21.2,
    # 20.5 s without).
    # p = sz - ceil(t*sz) + 1, all-integer: ceil(n*s/d) = (n*s + d - 1) div d
    p = (F.col("sz")
         - F.floor((F.lit(num) * F.col("sz") + F.lit(den - 1)) / den)
         + F.lit(1)).cast("int")
    pref = arrs.select("id", "sz",
                       F.explode(F.slice("tks", F.lit(1), p)).alias("tok"))
    a, b = pref.alias("a"), pref.alias("b")
    cand = (a.join(b, (F.col("a.tok") == F.col("b.tok"))
                   & (F.col("a.id") < F.col("b.id"))
                   # symmetric length filter: t*sb <= sa and t*sa <= sb
                   & (F.lit(den) * F.col("a.sz") >= F.lit(num) * F.col("b.sz"))
                   & (F.lit(den) * F.col("b.sz") >= F.lit(num) * F.col("a.sz")))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct())
    aa = arrs.select(F.col("id").alias("id_a"), F.col("tks").alias("tks_a"),
                     F.col("sz").alias("sz_a"))
    bb = arrs.select(F.col("id").alias("id_b"), F.col("tks").alias("tks_b"),
                     F.col("sz").alias("sz_b"))
    inter = F.size(F.array_intersect("tks_a", "tks_b")).cast("long")
    return (cand.join(aa, "id_a").join(bb, "id_b")
            .withColumn("inter", inter)
            .filter(F.lit(num + den) * F.col("inter")
                    >= F.lit(num) * (F.col("sz_a") + F.col("sz_b")))
            .select("id_a", "id_b", "inter", "sz_a", "sz_b",
                    (F.col("inter")
                     / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
                    .alias("jaccard")))


def winnow_fingerprints(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 24,
                        window: int = 8,
                        hash_family: str = "md5") -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every character ``k``-gram
    of the normalized text, then keep the minimum hash of each window
    of ``window`` consecutive k-grams. The selected set is the
    fingerprint; the winnowing guarantee is that any shared substring
    of length >= k + window - 1 contributes at least one shared
    fingerprint, so containment/clone detection reduces to an inverted
    index over (fingerprint -> doc) instead of all-pairs comparison.

    The classic formulation rolls a Rabin hash across the text; that is
    a sequential-CPU optimization, not a semantic. Here each k-gram is
    hashed directly (``substr`` + hash) inside one per-row chain of
    higher-order array functions — ``transform`` over a position
    ``sequence``, ``array_min`` over ``slice`` windows — so the whole
    operator is a zero-shuffle JVM-side projection: selection happens
    row-local, and only the (already tiny) fingerprint sets ever move.
    With the md5 family the selection is exactly reproducible in
    ANSI-ish SQL (the registry query's DuckDB oracle mirrors it
    list-function for list-function).

    Returns (id, fps) where fps = sorted distinct selected hashes —
    ascending array<long>, set semantics per the paper.

    Pick ``k`` against the corpus' real entropy: on low-entropy text
    (templates, boilerplate, small vocabularies) short grams collide
    across unrelated documents and the downstream inverted index goes
    quadratic. The defaults (24, 8) discriminate on the synthetic
    benchmark corpus; natural prose tolerates smaller k (the paper uses
    ~8 for text, ~50 for source code).
    """
    # Staged projections, not one nested expression: higher-order
    # array functions run interpreted, and a lambda body re-evaluates
    # every non-attribute subtree PER ELEMENT — an inline `h` inside
    # `slice(h, j, w)` would recompute all n gram md5s for each of the
    # n windows (O(n^2) hashes/row; measured: turned a 500-row table
    # into minutes). Aliasing each stage forces the arrays to
    # materialize once per row; Catalyst's CollapseProject keeps the
    # stages separate because the aliases are referenced repeatedly.
    s = F.col("__s")
    n_grams = F.length(s) - (k - 1)
    grams = F.when(
        n_grams <= 0, F.array(_slot_hash(hash_family, s, "win"))
    ).otherwise(F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: _slot_hash(hash_family, s.substr(i, F.lit(k)), "win")))
    h = F.col("__h")
    n_win = F.size(h) - (window - 1)
    sel = F.when(n_win <= 0, F.array(F.array_min(h))).otherwise(
        F.transform(F.sequence(F.lit(1), n_win),
                    lambda j: F.array_min(F.slice(h, j, window))))
    # NULL text fingerprints as empty text (same contract as the
    # streaming dedup): without the coalesce the array form emits a
    # null fps row while the row form drops the document entirely
    # (posexplode of a null char array) — a silent parity divergence.
    # round 13 (guide §2.2): one md5 per character position makes this
    # the heaviest per-input-byte fold in the repo — widen a narrow
    # scan (chain gate; no-op for streaming/multi-split/small inputs;
    # values are per-row, repartition-trivial).
    from data_services_spark.plans.widen import (
        CHAIN_MIN_BYTES, widen_if_narrow)
    docs = widen_if_narrow(docs.select(id_col, text_col),
                           min_bytes=CHAIN_MIN_BYTES)
    return (docs
            .select(F.col(id_col),
                    _norm_text(F.coalesce(F.col(text_col), F.lit("")))
                    .alias("__s"))
            .select(id_col, grams.alias("__h"))
            .select(F.col(id_col),
                    F.array_sort(F.array_distinct(sel)).alias("fps")))


def winnow_fingerprint_rows(docs: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", k: int = 24,
                            window: int = 8,
                            hash_family: str = "md5") -> DataFrame:
    """:func:`winnow_fingerprints` in row form — (id, fp) rows, exactly
    ``explode(fps)`` of the array form (parity-tested).

    This is the long-document scale path, and it is LINEAR in document
    length where the array form is quadratic: `substr(s, i, k)` scans
    UTF8 bytes to position i (character counting), so hashing every
    gram via substr costs O(n²) per document — measured minutes at 30k
    chars/doc. Here the text is exploded to characters ONCE, each gram
    is assembled from its k-row window frame (`collect_list` over ROWS
    BETWEEN CURRENT AND k-1 FOLLOWING — O(k) per row), and the
    winnowing minimum is a second frame-spec window over the gram
    hashes. One shuffle on the doc id, two stacked Window passes, all
    codegen'd, no per-row megabyte arrays (the array form additionally
    holds one hash per character per row — 80 MB for a 10 MB document).
    A single document's characters colocate in one task — per-doc work
    is linear; corpora with many docs per partition distribute.

    For short-document corpora the zero-shuffle array form wins (no
    shuffle, no char explosion); measured crossover is ~10k chars/doc —
    at 30k chars/doc the rows form is 3.7x faster and the gap grows
    quadratically (SCALE.md "Winnowing forms"). Selection rule matches
    the array form exactly: window j
    covers gram hashes [j, j+w-1]; only full windows select (j <=
    n_grams - w + 1), except a document with fewer than w grams (or
    shorter than k) selects its global minimum."""
    from pyspark.sql import Window as W

    # round 13 (guide §2.2): the char posexplode + gram assembly is
    # chain-weight map work BEFORE the doc_id shuffle — widen a narrow
    # scan so it does not serialize (same gate/no-op policy as the
    # array form; the downstream windows re-hash by doc_id regardless).
    from data_services_spark.plans.widen import (
        CHAIN_MIN_BYTES, widen_if_narrow)
    docs = widen_if_narrow(docs.select(id_col, text_col),
                           min_bytes=CHAIN_MIN_BYTES)
    staged = docs.select(
        F.col(id_col),
        _norm_text(F.coalesce(F.col(text_col), F.lit(""))).alias("__s"))
    chars = staged.select(
        F.col(id_col), F.length("__s").alias("__n"),
        F.posexplode(F.split("__s", "")).alias("__p0", "__ch"))
    gram_frame = (W.partitionBy(id_col).orderBy("__p0")
                  .rowsBetween(W.currentRow, k - 1))
    n_grams = F.greatest(F.col("__n") - (k - 1), F.lit(1))
    grams = (chars
             .withColumn("__gram",
                         F.array_join(
                             F.collect_list("__ch").over(gram_frame), ""))
             .filter(F.col("__p0") + 1 <= n_grams)
             .select(id_col, "__n", (F.col("__p0") + 1).alias("__i"),
                     _slot_hash(hash_family, F.col("__gram"), "win")
                     .alias("__gh")))
    min_frame = (W.partitionBy(id_col).orderBy("__i")
                 .rowsBetween(W.currentRow, window - 1))
    sel = (grams
           .withColumn("__m", F.min("__gh").over(min_frame))
           .filter(F.col("__i") <=
                   F.greatest(n_grams - (window - 1), F.lit(1))))
    return (sel.select(F.col(id_col), F.col("__m").alias("fp"))
            .distinct())


def winnow_shared_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 24,
                        window: int = 8, min_shared: int = 2,
                        max_df: int | None = 256,
                        hash_family: str = "md5") -> DataFrame:
    """Candidate containment/clone pairs from a winnowing inverted
    index: explode fingerprints, self-join per fingerprint bucket
    (id_a < id_b), keep pairs sharing >= ``min_shared`` fingerprints.
    Same cost shape as the MinHash LSH band join — sum over buckets of
    |bucket|^2, never corpus x corpus.

    ``max_df`` drops fingerprints appearing in more than that many
    documents BEFORE the self-join (a per-fingerprint count window on
    the join's own hash exchange). This is the operator's scale
    guard: a boilerplate gram shared by 1M documents carries zero
    discrimination but would alone contribute 5x10^11 joined rows; the
    cap bounds every bucket's contribution to max_df^2, exactly the
    stop-word/max-df move from tf-idf applied to fingerprint buckets.
    Returns (id_a, id_b, n_shared)."""
    fps = winnow_fingerprints(docs, text_col, id_col, k, window,
                              hash_family)
    # explode_outer, NOT explode: for plain explode the optimizer infers
    # `size(fps) > 0` (InferFiltersFromGenerate) and predicate pushdown
    # substitutes the alias chain into that Filter — re-inlining the
    # whole staged fingerprint expression and re-triggering the O(n^2)
    # interpreted re-evaluation the staging exists to prevent (measured:
    # 173s vs 2s on 500 rows). The inferred filter doesn't exist for
    # outer explode; the null-fp filter below sits on the GENERATED
    # attribute, which nothing can push past the Generate.
    inv = (fps.select(F.col(id_col).alias("id"),
                      F.explode_outer("fps").alias("fp"))
           .filter(F.col("fp").isNotNull()))
    # Both self-join sides read the inverted index, and each read would
    # re-pay the per-character md5 fingerprint fold, the most expensive
    # projection in the repo. The max-df count is a window over ``fp``,
    # so the index crosses ONE hash exchange on the join key: both join
    # sides are that exchange, which ReuseExchange computes once, and
    # the join adds no exchange of its own. No persist, so the build
    # stays pure; a groupBy count + semi-join needed a one-slot persist
    # to match this form's time.
    if max_df is not None:
        inv = (inv.withColumn("__df", F.count(F.lit(1)).over(
                   Window.partitionBy("fp")))
               .filter(F.col("__df") <= max_df).drop("__df"))
    a, b = inv.alias("a"), inv.alias("b")
    return (a.join(b, (F.col("a.fp") == F.col("b.fp"))
                   & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id_a"),
                     F.col("b.id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared))


def substring_dedup(docs: DataFrame, k: int = 50,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """ExactSubstr substring-level exact dedup (Lee et al. 2022,
    arXiv:2107.06499 "Deduplicating Training Data Makes Language
    Models Better", §ExactSubstr): remove every token span of length
    >= ``k`` that appears verbatim more than once in the corpus —
    keeping only the canonical FIRST occurrence (lowest (doc_id, pos))
    — and splice each document back together from its surviving
    tokens. This is span-accurate, unlike chunk-level dedup (fixed
    chunk boundaries miss straddling spans) or winnowing (finds clone
    DOCUMENTS, doesn't splice).

    Semantics, exactly: every k-token gram occurrence (doc, pos) whose
    gram occurs anywhere else in the corpus (another doc OR another
    position of the same doc) and is not the global first occurrence
    marks tokens [pos, pos+k-1] for removal; a longer shared span is
    covered by its k-gram occurrences, so whole spans vanish and the
    first occurrence alone survives. Documents shorter than k tokens
    have no gram and are never cut.

    Spark-first shape (the reference paper builds a monolithic suffix
    array — a single-machine design; the distributed re-expression is
    the k-gram hash group):

    - grams hash JVM-side with the portable md5 family
      (:func:`md5_long_hash`) so the 8-byte hash, not the k-token
      text, is what shuffles (k-fold shuffle deflation; an identical
      hash conflation would affect both engines identically, keeping
      the oracle bit-exact);
    - duplicate detection is a map-side-combined ``groupBy(gram)``
      (count + min of the combined ``doc_id*2^31 + pos`` ordering
      key), NOT a window over gram: partial aggregation absorbs
      boilerplate-gram skew on the map side, where a window would
      funnel a hot gram's million occurrences through one task;
    - only grams with count > 1 (typically a small fraction) join
      back — AQE broadcasts the dup-gram table when it is small, and
      its skew-join splitting covers the rest;
    - span union + splice are LINEAR per-doc array ops (round-10:
      sorted start positions merge into disjoint removal runs via
      shifted zip_with, survivors splice from the complement gaps —
      O(starts + survivors), replacing the r9 O(T x R) array_contains
      filter and its O(dups x k) expanded spans) — zero Python
      anywhere.

    The combined ordering key requires doc_id < 2^32 and positions
    < 2^31 (any practical corpus; BIGINT-exact in both engines).

    Returns (id, n_tokens, n_removed, clean_text) for EVERY input
    document — n_removed = 0 and clean_text = the normalized token
    join when nothing was cut.
    """
    kc = F.lit(k)
    toks = docs.select(F.col(id_col),
                       F.split(_norm_text(text_col), WS_SPLIT).alias("__t"))
    n = F.size("__t")
    # 1-based gram starts; guard the descending-sequence case n < k
    starts = F.when(n >= k, F.sequence(F.lit(1), n - k + 1)) \
        .otherwise(F.array().cast("array<int>"))
    okey = F.col(id_col).cast("long") * F.lit(2147483648) + F.col("__pos")
    g = (toks
         .select(F.col(id_col), F.col("__t"),
                 F.explode(starts).alias("__pos"))
         .select(F.col(id_col), F.col("__pos"),
                 md5_long_hash(
                     F.array_join(F.slice("__t", F.col("__pos"), k), " "),
                     "sub").alias("__g")))
    dup_grams = (g.groupBy("__g")
                 .agg(F.count(F.lit(1)).alias("__c"),
                      F.min(okey).alias("__mk"))
                 .filter(F.col("__c") > 1)
                 .select("__g", "__mk"))
    # Per-doc removal state is the SORTED DISTINCT START positions only
    # (O(dup occurrences) ints) — never the expanded [pos, pos+k-1]
    # spans (O(dups x k)) of the round-9 form, whose splice then paid
    # O(T x R) array_contains scans per doc (round-9 verdict,
    # What's-wrong #3). The splice below is linear: merge the sorted
    # starts into disjoint removal runs with shifted zip_with (a start
    # opens a run iff the previous start can't reach it; closes one iff
    # the next start can't extend it — runs alternate, so the compacted
    # lo/hi arrays align), emit the COMPLEMENT gaps, and splice
    # survivors gap by gap. Every step is O(starts) or O(survivors);
    # a fully-duplicated 50k-token doc costs ~50k ops, not ~10^8
    # (pinned by test_substring_dedup_long_duplicated_doc_is_linear).
    rm = (g.join(dup_grams, "__g")
          .filter(okey != F.col("__mk"))
          .groupBy(id_col)
          .agg(F.sort_array(F.collect_set("__pos")).alias("__starts")))
    starts = F.coalesce(F.col("__starts"), F.array().cast("array<int>"))
    far = F.lit(2147483647)  # sentinel: beyond any real position
    # prev_full[i] = starts[i-1] (sentinel -2k at i=0); zip_with pads
    # the shorter side with NULL, and NULL comparisons fall out via
    # array_compact — so no slice-length edge cases at size 0/1
    prev_full = F.concat(F.array(F.lit(-2 * k)), starts)
    nxt = F.when(F.size(starts) >= 2,
                 F.concat(F.slice(starts, 2, F.size(starts) - 1),
                          F.array(far))) \
        .otherwise(F.array(far))
    run_lo = F.array_compact(F.zip_with(
        starts, prev_full,
        lambda s, p: F.when(s > p + (k - 1), s)))
    run_hi = F.array_compact(F.zip_with(
        starts, nxt,
        lambda s, nx: F.when(nx > s + (k - 1), s + (k - 1))))
    n = F.size("__t")
    gap_lo = F.concat(F.array(F.lit(1)),
                      F.transform(run_hi, lambda h: h + 1))
    gap_hi = F.concat(F.transform(run_lo, lambda lo: lo - 1), F.array(n))
    surv = F.flatten(F.zip_with(
        gap_lo, gap_hi,
        lambda a, b: F.when(a <= b, F.sequence(a, b))
        .otherwise(F.array().cast("array<int>"))))
    return (toks.join(rm, id_col, "left")
            .select(F.col(id_col),
                    n.cast("long").alias("n_tokens"),
                    # coalesce: a NULL-text doc has n = NULL, and NULL-0
                    # must report 0 removed (the oracle's COALESCE and
                    # the r9 splice both did; round-10 review finding)
                    F.coalesce(n - F.size(surv), F.lit(0))
                    .cast("long").alias("n_removed"),
                    F.array_join(
                        F.transform(surv,
                                    lambda j: F.element_at(F.col("__t"), j)),
                        " ").alias("clean_text")))
