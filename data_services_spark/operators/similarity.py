"""Similarity search over embedding columns (SURVEY §2.11 L3/L4).

Two physical strategies with identical results:

- :func:`knn_topk` — pure Catalyst expressions (``zip_with`` dot product in
  whole-stage codegen) + ``TakeOrderedAndProject``. Per-partition top-k then
  a driver merge of k*num_partitions rows — the classic distributed top-k.
- :func:`knn_topk_arrow` — the 100 TB path: ``mapInPandas`` with a numpy
  matmul per Arrow batch and a partition-local top-k, so only
  k*num_partitions candidate rows ever shuffle. Same ordering contract.

Both accumulate in float64 left-to-right, so scores agree bit-for-bit.

SemDeDup has one path per entry point: literal-centroid :func:`semdedup`
drops duplicates with an oracle-checked SQL cell equi-join, and
:func:`semdedup_indexed` (trained IVF index) with one numpy matmul per
cell — the only indexed kernel.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from data_services_spark.functions.vectors import (
    cosine_similarity, dot_product,
)
from data_services_spark.plans.plan_memo import memo_get, memo_put


def _query_vector(embeddings: DataFrame, query_id: int,
                  id_col: str, vec_col: str) -> list[float]:
    """Driver-side fetch of one query vector — used ONLY where the value
    must live in a Python closure (the numpy kernel of
    :func:`knn_topk_arrow`) or as fold-in literals (the `dim=` path of
    :func:`knn_topk`): shipping it per-row through Arrow would add
    dim*8 bytes to every corpus row, far worse than one bounded 1-row
    job. Every other pure-Catalyst path instead joins the query in as a
    1-row broadcast (:func:`ann_hyperplane_topk`, :func:`ivf_fixed_topk`,
    :func:`ivf_topk`) — zero extra jobs.

    The vector is DATA, not a plan: refetching the same 1-row lookup on
    every plan build charged ~0.2s/build at sf1, so it is memoized
    (plans/plan_memo.py) under the analyzed plan's semantic hash — a
    different source path/filter never aliases — and the stat check on
    the embeddings' input files refetches it after an in-place
    rewrite."""
    spark = embeddings.sparkSession
    try:
        key = ("query_vector",
               embeddings._jdf.queryExecution().analyzed().semanticHash(),
               query_id, id_col, vec_col)
    except Exception:
        key = None
    if key is not None:
        vec = memo_get(spark, key)
        if vec is not None:
            return vec
    row = embeddings.filter(F.col(id_col) == query_id).select(vec_col).head()
    if row is None:
        raise KeyError(f"query id {query_id} not found")
    vec = list(row[0])
    if key is not None:
        memo_put(spark, key, vec, embeddings.inputFiles())
    return vec


def knn_topk(embeddings: DataFrame, query_id: int, k: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding",
             dim: int | None = None) -> DataFrame:
    """Brute-force cosine top-k against the vector of `query_id`.

    Excludes the query vector itself. Deterministic total order:
    (similarity desc, id asc). Returns (rank, vec_id, cosine_sim).

    **Always pass ``dim=`` when you know the embedding width** (any
    production corpus does): without it the generic fallback plans a
    BroadcastNestedLoopJoin whose stage runs fully interpreted —
    measured ~5x slower per row than the literal-folded codegen path.
    The fallback exists for ad-hoc exploration where the width is
    unknown, not for pipelines.

    Two physical forms, identical values:

    - default: the query vector joins in via a 1-row broadcast (no
      driver fetch), scored with the higher-order fold. General — works
      for any dim — but the BroadcastNestedLoopJoin shape blocks
      whole-stage codegen for the entire stage (explain shows 0 codegen
      spans), so every row pays interpreted expression evaluation.
    - `dim=` given: the query vector is fetched driver-side (one bounded,
      memoized 1-row job — the same justified boundary as the Arrow
      kernel below) and folded into the scoring expression as *literals*.
      The join disappears: the plan is Scan -> Filter -> Project ->
      TakeOrderedAndProject, the query's norm is precomputed in Python,
      and per-row work is dim fused multiply-adds in ONE generated
      projection. Measured 2.1s -> 0.4s scan execution on the 200k x
      64-dim sf1 bench.

    Per-plan constant (measured at sf1, round 5): fusing the ~770-node
    unrolled expression into WHOLE-STAGE codegen costs ~1.5s of driver
    CPU per fresh plan in codegen *source generation* (the janino
    compile cache hits — CodegenMetrics compile count stays flat across
    fresh builds — but WSCG's produce/consume walk with cross-stage
    subexpression elimination re-runs per plan instance and is
    superlinear in expression size). Generating the same expression as a
    standalone projection costs ~0.5s and executes identically fast
    (the heavy lifting is 200k rows x 64 FMAs either way; re-execution
    of a built plan is 0.065s in both forms). So the scoring Project is
    deliberately pinned OUT of whole-stage codegen with an explicit
    barrier term — `* aggregate(array(e0), 1.0, (a, x) -> a)` — a
    non-foldable CodegenFallback leaf that multiplies by exactly 1.0
    (bit-identity for every double, including -0.0 and NaN, and NULL
    embeddings stay NULL through dot/norm). Fresh-plan wall time at sf1:
    1.9s -> ~0.4s. At cluster scale the same trade holds: the barrier
    costs one interpreted 1-element fold per row, the WSCG fusion would
    cost seconds of driver time per query compilation.

    Float parity: the literal path sums left-associated in index order,
    0.0-seeded — bit-identical to the fold (IEEE `0.0 + x == x`) and to
    the DuckDB oracle's list_cosine_similarity.
    """
    if dim:
        import math
        q = _query_vector(embeddings, query_id, id_col, vec_col)
        if len(q) != dim:
            raise ValueError(f"dim={dim} but query vector has {len(q)}")
        qn = 0.0
        for x in q:
            qn += x * x
        qn = math.sqrt(qn)
        # ONE F.expr parse, not dim*6 Column calls: building the unrolled
        # expression through the Column API costs ~1500 py4j round trips
        # (~2.5s measured) PER PLAN BUILD — the string parses JVM-side in
        # ~ms. Literals go through CAST('<repr>' AS DOUBLE): repr() is
        # shortest-round-trip, and string->double parsing is correctly
        # rounded, so the value is exact (a bare SQL decimal literal
        # would parse as DECIMAL and change the arithmetic). The column
        # name is backtick-quoted (embedded backticks doubled, the SQL
        # identifier escape) so any name the Column API accepts parses.
        vq = "`" + vec_col.replace("`", "``") + "`"
        elem = [f"CAST({vq}[{i}] AS DOUBLE)" for i in range(dim)]
        dot = " + ".join(f"{elem[i]} * CAST('{float(q[i])!r}' AS DOUBLE)"
                         for i in range(dim))
        norm = " + ".join(f"{elem[i]} * {elem[i]}" for i in range(dim))
        # Codegen-stage barrier (see docstring): a non-foldable
        # CodegenFallback leaf — references the column so ConstantFolding
        # cannot erase it, evaluates to exactly 1.0 — keeps this Project
        # out of whole-stage codegen. x * 1.0 is a bit-identity.
        one_fb = (f"aggregate(array({elem[0]}), CAST(1.0 AS DOUBLE), "
                  f"(a, x) -> a)")
        sim = (f"(({dot}) / (SQRT({norm}) * "
               f"CAST('{qn!r}' AS DOUBLE))) * {one_fb}")
        scored = (embeddings.filter(F.col(id_col) != query_id)
                  .select(F.col(id_col), F.expr(sim).alias("cosine_sim")))
    else:
        q = (embeddings.filter(F.col(id_col) == query_id)
             .select(F.col(vec_col).alias("__qv")))
        scored = (embeddings.filter(F.col(id_col) != query_id)
                  .crossJoin(F.broadcast(q))
                  .select(F.col(id_col),
                          cosine_similarity(F.col(vec_col), F.col("__qv"))
                          .alias("cosine_sim")))
    top = scored.orderBy(F.desc("cosine_sim"), F.col(id_col)).limit(k)
    w = Window.orderBy(F.desc("cosine_sim"), F.col(id_col))
    return top.select(F.row_number().over(w).cast("long").alias("rank"),
                      F.col(id_col), F.col("cosine_sim"))


def knn_topk_arrow(embeddings: DataFrame, query_id: int, k: int = 10,
                   id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Same contract as :func:`knn_topk`, Arrow/numpy physical plan.

    ``mapInArrow``, not ``mapInPandas``: an Arrow ``list<float>`` column
    is a flat value buffer plus offsets, so the batch reshapes into the
    (n, dim) matrix with NO per-row Python work — the pandas form paid a
    per-row ``np.asarray`` lambda on object-dtype lists (measured 2.34s
    vs 1.65s on the 200k x 64 sf1 bench, bit-identical results). This is
    the high-dim scale path where unrolled Catalyst expressions stop
    being viable (functions/vectors.py).
    """
    import numpy as np
    import pyarrow as pa

    q = np.asarray(_query_vector(embeddings, query_id, id_col, vec_col),
                   dtype=np.float64)
    qn = np.sqrt((q * q).sum())

    def score(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        best_ids = best_sims = None
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(batch.schema.get_field_index(id_col)) \
                       .to_numpy(zero_copy_only=False)
            col = batch.column(batch.schema.get_field_index(vec_col))
            flat = col.flatten().to_numpy(zero_copy_only=False)
            widths = np.diff(col.offsets.to_numpy(zero_copy_only=False))
            if not (widths == widths[0]).all():
                raise ValueError("ragged embedding widths in batch")
            m = flat.reshape(len(ids), widths[0]).astype(np.float64)
            sims = (m @ q) / (np.sqrt((m * m).sum(axis=1)) * qn)
            if best_ids is not None:
                ids = np.concatenate([best_ids, ids])
                sims = np.concatenate([best_sims, sims])
            # partition-local top-k: sort by (-sim, id) for the same
            # deterministic tie order as the Catalyst path
            order = np.lexsort((ids, -sims))[:k]
            best_ids, best_sims = ids[order], sims[order]
        if best_ids is not None:
            yield pa.record_batch(
                [pa.array(best_ids, pa.int64()),
                 pa.array(best_sims, pa.float64())],
                names=[id_col, "cosine_sim"])

    scored = (embeddings.filter(F.col(id_col) != query_id)
              .select(id_col, vec_col)
              .mapInArrow(score, f"{id_col} long, cosine_sim double"))
    top = scored.orderBy(F.desc("cosine_sim"), F.col(id_col)).limit(k)
    w = Window.orderBy(F.desc("cosine_sim"), F.col(id_col))
    return top.select(F.row_number().over(w).cast("long").alias("rank"),
                      F.col(id_col), F.col("cosine_sim"))


def hyperplane_planes(dim: int, n_planes: int = 4, seed: int = 42,
                      decimals: int = 6) -> list[list[float]]:
    """Deterministic random-hyperplane set for sign-LSH, rounded so the same
    literals can be embedded in both Spark expressions and oracle SQL."""
    import numpy as np

    rs = np.random.RandomState(seed)
    return [[float(x) for x in np.round(row, decimals)]
            for row in rs.uniform(-1.0, 1.0, size=(n_planes, dim))]


def _bucket_expr(vec_col: str, planes: Sequence[Sequence[float]]) -> F.Column:
    """Sign-bit bucket string: one bit per hyperplane, '1' iff dot >= 0.

    The plane weights are always literals here, so each dot UNROLLS into
    a flat left-associated sum built as ONE SQL string (one F.expr
    parse, knn_topk's pattern — the Column-API form would cost hundreds
    of py4j round trips per plan build, and the earlier higher-order
    fold cost ~3µs/row/plane interpreted: measured 2.6s -> 0.35s
    execution for 4 planes over the 200k x 64 sf1 corpus, round 6).
    The same `* aggregate(array(e0), 1.0, (a,x) -> a)` CodegenFallback
    barrier as knn_topk keeps the unrolled tree OUT of whole-stage
    codegen source generation (it appears once per branch — query and
    corpus — so fusion would pay the superlinear produce/consume walk
    twice per fresh plan). Bit parity with the old fold: left-associated
    0.0-seeded sum order is unchanged, `* 1.0` is a bit-identity, NULL
    embeddings still yield NULL dots and take the '0' branch — the
    exact-hash DuckDB oracles (bucket_sql twins) see identical buckets.
    """
    vq = "`" + vec_col.replace("`", "``") + "`"
    dim = len(planes[0])
    elem = [f"CAST({vq}[{i}] AS DOUBLE)" for i in range(dim)]
    one_fb = (f"aggregate(array({elem[0]}), CAST(1.0 AS DOUBLE), "
              f"(a, x) -> a)")
    bits = []
    for j, plane in enumerate(planes):
        dot = " + ".join(
            f"{elem[i]} * CAST('{float(plane[i])!r}' AS DOUBLE)"
            for i in range(dim))
        # ONE barrier per projection is enough: CollapseCodegenStages
        # disqualifies the whole Project from WSCG if ANY expression
        # contains a CodegenFallback node, so only the first bit pays
        # the interpreted 1-element fold.
        guarded = f"(({dot}) * {one_fb})" if j == 0 else f"({dot})"
        bits.append(f"CASE WHEN {guarded} >= 0.0 THEN '1' ELSE '0' END")
    return F.expr("CONCAT(" + ", ".join(bits) + ")")


def bucket_sql(vec_expr: str, planes: Sequence[Sequence[float]]) -> str:
    """DuckDB equivalent of :func:`_bucket_expr` (list_dot_product signs)."""
    bits = [
        "CASE WHEN list_dot_product(CAST(%s AS DOUBLE[]), [%s]) >= 0 "
        "THEN '1' ELSE '0' END" % (vec_expr, ", ".join(repr(p) for p in plane))
        for plane in planes
    ]
    return " || ".join(bits)


def ann_hyperplane_topk(embeddings: DataFrame, query_id: int, k: int = 10,
                        n_planes: int = 4, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        dim: int | None = None) -> DataFrame:
    """L3 scale path: approximate top-k via sign-LSH bucket pruning.

    Candidates are restricted to the query's hyperplane-sign bucket
    (expected fraction 2^-n_planes of the corpus), then scored exactly —
    the IVF/nprobe=1 pattern. Deterministic: fixed seeded hyperplanes, and
    the query's bucket is computed with the *same* Catalyst fold as the
    candidates' (no driver-side float arithmetic to disagree with).
    Returns (rank, vec_id, cosine_sim) within the probed bucket.

    Pass `dim` (the embedding dimensionality) to keep the plan fully
    lazy — it only sizes the hyperplane family. When omitted, one bounded
    1-value probe reads it from the first row's array length.
    """
    if dim is None:
        row = embeddings.select(F.size(F.col(vec_col))).head()
        if row is None:
            raise ValueError("empty embeddings table and no dim given")
        dim = int(row[0])
    planes = hyperplane_planes(dim, n_planes)
    b = _bucket_expr(vec_col, planes)
    # The query branch also pre-folds its own norm ONCE (1 row): the
    # candidate scoring below then divides by the broadcast scalar
    # instead of re-deriving sqrt(norm(qv)) per candidate row.
    q = (embeddings.filter(F.col(id_col) == query_id)
         .select(b.alias("__qb"), F.col(vec_col).alias("__qv"),
                 F.sqrt(dot_product(F.col(vec_col), F.col(vec_col)))
                 .alias("__qn")))
    # Candidate scoring, unrolled as ONE SQL-string expression with the
    # knn_topk codegen barrier (see _bucket_expr/knn_topk docstrings):
    # the higher-order cosine fold cost ~40µs/candidate interpreted —
    # half the post-prune runtime at sf1 (round 6, measured). Division
    # order sqrt(norm_a) * __qn == sqrt(norm_a) * sqrt(norm_b) keeps the
    # result bit-identical to the fold and the DuckDB oracle.
    vq = "`" + vec_col.replace("`", "``") + "`"
    ea = [f"CAST({vq}[{i}] AS DOUBLE)" for i in range(dim)]
    eb = [f"CAST(`__qv`[{i}] AS DOUBLE)" for i in range(dim)]
    dot = " + ".join(f"{ea[i]} * {eb[i]}" for i in range(dim))
    na = " + ".join(f"{ea[i]} * {ea[i]}" for i in range(dim))
    one_fb = (f"aggregate(array({ea[0]}), CAST(1.0 AS DOUBLE), "
              f"(a, x) -> a)")
    sim = f"(({dot}) / (SQRT({na}) * `__qn`)) * {one_fb}"
    cand = (embeddings.filter(F.col(id_col) != query_id)
            .withColumn("__b", b)
            .join(F.broadcast(q), F.col("__b") == F.col("__qb"))
            .select(F.col(id_col), F.expr(sim).alias("cosine_sim")))
    top = cand.orderBy(F.desc("cosine_sim"), F.col(id_col)).limit(k)
    w = Window.orderBy(F.desc("cosine_sim"), F.col(id_col))
    return top.select(F.row_number().over(w).cast("long").alias("rank"),
                      F.col(id_col), F.col("cosine_sim"))


def embedding_near_dup(embeddings: DataFrame, threshold: float = 0.8,
                       group_col: str = "label", id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by `group_col`.
    Returns (id_a, id_b) with id_a < id_b and cosine >= threshold.

    NOTE: group-blocking is quadratic within a block — only safe when the
    grouping key is fine-grained. The scale path is
    :func:`lsh_banded_near_dup`, where blocks are LSH buckets whose size
    is controlled by the number of planes, independent of any label
    cardinality."""
    a = embeddings.select(F.col(group_col).alias("g"),
                          F.col(id_col).alias("id_a"),
                          F.col(vec_col).alias("va"))
    b = embeddings.select(F.col(group_col).alias("g"),
                          F.col(id_col).alias("id_b"),
                          F.col(vec_col).alias("vb"))
    return (a.join(b, "g")
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(cosine_similarity("va", "vb") >= threshold)
            .select("id_a", "id_b"))


def band_bucket_exprs(vec_col: str, dim: int, n_bands: int,
                      planes_per_band: int,
                      seed: int = 42) -> list[F.Column]:
    """One sign-bit bucket string per LSH band (banded random-hyperplane
    family). Two vectors are near-dup *candidates* iff they share a bucket
    in at least one band (OR-amplification: per-band collision prob is
    p^planes where p = 1 - angle/pi, so more bands raise recall, more
    planes per band cut false candidates)."""
    planes = hyperplane_planes(dim, n_bands * planes_per_band, seed)
    return [_bucket_expr(vec_col, planes[i * planes_per_band:
                                         (i + 1) * planes_per_band])
            for i in range(n_bands)]


def band_bucket_sql(vec_expr: str, dim: int, n_bands: int,
                    planes_per_band: int, seed: int = 42) -> list[str]:
    """DuckDB twins of :func:`band_bucket_exprs` (same seeded planes)."""
    planes = hyperplane_planes(dim, n_bands * planes_per_band, seed)
    return [bucket_sql(vec_expr, planes[i * planes_per_band:
                                        (i + 1) * planes_per_band])
            for i in range(n_bands)]


def lsh_banded_near_dup(embeddings: DataFrame, dim: int,
                        threshold: float = 0.8, n_bands: int = 3,
                        planes_per_band: int = 6, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        seed: int = 42) -> DataFrame:
    """L4 scale path: embedding near-dup via banded sign-LSH blocking —
    propose pairs that collide in >= 1 band, then verify with exact
    cosine. Returns (id_a, id_b), id_a < id_b, cosine >= threshold.

    Never all-pairs: each band is an equi-join on the bucket string, so
    the candidate count is sum over buckets of |bucket|^2 — controlled by
    `planes_per_band` (each plane halves the expected bucket), NOT by any
    data-dependent label cardinality. Deterministic seeded planes mean
    the oracle reproduces the identical candidate set in SQL.

    Shuffle shape: explode x n_bands (map-side, no shuffle) -> one
    shuffle on band_key for the self-join -> distinct on (id_a, id_b)
    pairs only (ids, not vectors) -> two joins back to fetch vectors for
    the O(candidates) verify. Recall for true pairs at cosine c is
    1-(1-p^P)^B with p = 1 - arccos(c)/pi; scale deployments raise B.
    """
    # Round 13 (guide §2.2): the n_bands x planes_per_band x dim sign
    # folds and the per-candidate verify cosines are chain-weight map
    # work riding the scan — widen a narrow scan so neither serializes
    # on one task (no-op for streaming / >=cores-split / small inputs;
    # every downstream consumer joins or aggregates, so values are
    # repartition-insensitive).
    from data_services_spark.plans.widen import (
        CHAIN_MIN_BYTES, widen_if_narrow)
    embeddings = widen_if_narrow(embeddings.select(id_col, vec_col),
                                 min_bytes=CHAIN_MIN_BYTES)
    bands = band_bucket_exprs(vec_col, dim, n_bands, planes_per_band, seed)
    sig = embeddings.select(
        F.col(id_col),
        F.explode(F.array(*[
            F.concat(F.lit(f"{i}:"), b) for i, b in enumerate(bands)
        ])).alias("band_key"))
    a = sig.select("band_key", F.col(id_col).alias("id_a"))
    b = sig.select("band_key", F.col(id_col).alias("id_b"))
    cand = (a.join(b, "band_key")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())
    # Round 13 (guide §1.2 per-task work): norms once per VECTOR before
    # the join, not once per candidate pair — the division form
    # dot/(na*nb) is the SAME expression tree cosine_similarity builds
    # (dot_product / (l2_norm * l2_norm)), just evaluated over
    # precomputed factors, so boundary decisions are bit-identical to
    # the oracle's.
    from data_services_spark.functions.vectors import l2_norm
    ea = embeddings.select(F.col(id_col).alias("id_a"),
                           F.col(vec_col).alias("va"),
                           l2_norm(F.col(vec_col)).alias("__na"))
    eb = embeddings.select(F.col(id_col).alias("id_b"),
                           F.col(vec_col).alias("vb"),
                           l2_norm(F.col(vec_col)).alias("__nb"))
    return (cand.join(ea, "id_a").join(eb, "id_b")
            .filter((dot_product("va", "vb")
                     / (F.col("__na") * F.col("__nb"))) >= threshold)
            .select("id_a", "id_b"))


def semdedup(embeddings: DataFrame, centroids: Sequence[Sequence[float]],
             threshold: float = 0.9, id_col: str = "vec_id",
             vec_col: str = "embedding",
             dim: int | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster-local
    semantic deduplication — the embedding-space complement of the
    MinHash/winnowing text paths. Assign every vector to its nearest
    centroid (argmax dot, first-index tie-break — the same rule as
    :func:`ivf_fixed_topk`), then WITHIN each cluster drop any member
    that has an earlier member (lower id) at cosine >= `threshold`.
    The earlier-member rule is the public reference implementation's
    upper-triangular mask, which makes the whole pass one equi-join +
    one anti-join — no iterative greedy loop; we order by id rather
    than centroid-distance so survivor choice never depends on a float
    sort (deterministic under re-runs and exactly SQL-expressible).

    Returns (id, cell, kept): every input row, its cluster id (1-based),
    and whether it survives.

    Scale shape: the pair proposal is an equi-join on `cell` — ONE
    shuffle, candidates sum(|cell|^2). SemDeDup's own contract bounds
    cell width: k grows with corpus size (the paper uses k=50k on
    LAION-440M, ~9k vectors/cell), so per-cell work is constant as the
    corpus scales out. Fixed literal centroids keep every stage
    oracle-checkable; production swaps in the trained k-means
    quantizer (:func:`ivf_build_index`) with identical downstream
    algebra. Unlike :func:`lsh_banded_near_dup` (pair RECALL tuned by
    planes-per-band), semdedup partitions the space totally, so
    cross-cluster near-dups are invisible by design — that is the
    paper's recall/cost trade, not an implementation gap.

    `dim` feeds ONLY the pair-verify cosine (the O(sum |cell|^2) hot
    stage, where the unrolled whole-stage-codegen form matters); the
    k centroid dots deliberately stay on the `F.aggregate` fold —
    unrolling k x dim literal products into one projection blows the
    Catalyst tree to ~k*2*dim nodes (measured: 20s analysis + 35s
    Janino compile at k=16, dim=64, vs ~1s folded; assignment is one
    pass over n rows, never quadratic, so interpreted evaluation is
    not the bottleneck). At production k (SemDeDup uses 50k cells)
    literal centroids are off the table entirely — assignment becomes
    the broadcast-join of :func:`ivf_build_index`."""
    # Round 13 (guide §2.2): the k x dim interpreted centroid fold is
    # chain-weight map work — widen a narrow scan so assignment does
    # not serialize. `tagged` is read three times (both pair-join sides
    # + the survivor-flag host); the two join sides are one hash
    # exchange on `cell`, which ReuseExchange computes once. A one-slot
    # persist measured slower (sf0.1, two sessions each: 6.98, 7.46 s
    # with it; 6.15, 5.06 s without).
    from data_services_spark.plans.widen import (
        CHAIN_MIN_BYTES, widen_if_narrow)
    embeddings = widen_if_narrow(embeddings.select(id_col, vec_col),
                                 min_bytes=CHAIN_MIN_BYTES)
    dots = F.array(*[
        dot_product(F.col(vec_col), F.array(*[F.lit(x) for x in c]))
        for c in centroids])
    tagged = (embeddings
              .select(F.col(id_col), F.col(vec_col))
              .withColumn("__ds", dots)
              .withColumn("cell",
                          F.array_position(F.col("__ds"),
                                           F.array_max("__ds"))
                          .cast("long"))
              .drop("__ds"))
    return _semdedup_survivors(tagged, threshold, id_col, vec_col, dim)


def _semdedup_survivors(tagged: DataFrame, threshold: float, id_col: str,
                        vec_col: str, dim: int | None) -> DataFrame:
    """The cluster-local upper-triangular drop rule of the
    literal-centroid twin, as one SQL cell equi-join: `tagged` carries
    (id, vec, cell); a row is dropped iff an earlier same-cell row sits
    at cosine >= threshold. The trained-index path runs the same rule in
    the numpy kernel (:func:`_semdedup_survivors_arrow`).

    The pair predicate is the MULTIPLICATIVE form of the cosine test,
    ``dot(a,b) >= tau * |a| * |b|``: norms are computed once per
    VECTOR (map-side, before the join) instead of once per PAIR, which
    at the sf1 pair budget (67M proposed pairs for 200k vectors at
    448 cells) cuts per-pair work from three unrolled 64-term folds to
    one. The oracle mirrors the same multiplicative expression, so the
    boundary decision stays bit-identical cross-engine."""
    from data_services_spark.functions.vectors import l2_norm

    normed = tagged.withColumn("__nrm", l2_norm(F.col(vec_col), dim))
    a = normed.select("cell", F.col(id_col).alias("__ida"),
                      F.col(vec_col).alias("__va"),
                      F.col("__nrm").alias("__na"))
    b = normed.select("cell", F.col(id_col).alias("__idb"),
                      F.col(vec_col).alias("__vb"),
                      F.col("__nrm").alias("__nb"))
    pairs = (a.join(b, "cell")
             .filter(F.col("__ida") < F.col("__idb")))
    # __na/__nb > 0 guards the multiplicative form's zero-vector edge:
    # dot(0,b) = 0 >= tau*0*|b| would otherwise mark every zero vector a
    # duplicate of everything (the division form yields NaN -> false).
    dropped = (pairs
               .filter((F.col("__na") > 0) & (F.col("__nb") > 0))
               .filter(dot_product("__va", "__vb", dim)
                       >= F.lit(threshold) * F.col("__na") * F.col("__nb"))
               .select(F.col("__idb").alias(id_col))
               .distinct())
    return (tagged
            .join(dropped.withColumn("__dup", F.lit(True)), id_col, "left")
            .select(id_col, "cell",
                    F.col("__dup").isNull().alias("kept")))


def _semdedup_survivors_arrow(tagged: DataFrame, threshold: float,
                              id_col: str, vec_col: str,
                              row_block: int = 2048) -> DataFrame:
    """Arrow/numpy kernel of the upper-triangular drop rule — the
    100 TB hot path, and the shape the SemDeDup reference
    implementation itself uses (a pairwise similarity matrix per
    cluster). One `applyInPandas` over the cell grouping: the cell's
    vectors stack into a (m x dim) float64 matrix, normalize once, and
    the m^2 cosine surface is ONE BLAS matmul instead of m^2/2
    join-materialized rows — measured 12.8 µs/pair for the codegen'd
    SQL join vs ~0.01 µs/pair here (the join's cost is row
    materialization, not FLOPs). `row_block` bounds memory: the sim
    matrix builds in (row_block x m) slabs, so a hot cell costs
    O(m * row_block) memory, never O(m^2).

    vs the SQL forms: float64 matmul accumulates SIMD/pairwise, not
    left-associated, so pairs sitting within ~1 ulp of the threshold
    may decide differently than the oracle-checked twin — the standard
    Arrow-kernel trade this repo documents on knn_topk_arrow; decision
    parity on margin-bearing corpora is pytest-asserted."""
    import pandas as pd

    out_schema = f"{id_col} long, cell long, kept boolean"

    def _dedup_cell(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        pdf = pdf.sort_values(id_col, kind="mergesort")
        x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        m = len(pdf)
        norms = np.sqrt((x * x).sum(axis=1))
        norms[norms == 0.0] = 1.0
        xn = x / norms[:, None]
        dropped = np.zeros(m, dtype=bool)
        for lo in range(0, m, row_block):
            hi = min(lo + row_block, m)
            sims = xn[lo:hi] @ xn.T          # (block x m) slab
            hit = sims >= threshold
            # earlier-member rule: j is dropped iff any i < j hits;
            # rows are the i side (global index lo..hi-1)
            for i in range(lo, hi):
                row = hit[i - lo]
                row[: i + 1] = False          # keep upper triangle only
                dropped |= row
        return pd.DataFrame({
            id_col: pdf[id_col].to_numpy(),
            "cell": pdf["cell"].to_numpy(),
            "kept": ~dropped,
        })

    return (tagged.groupBy("cell")
            .applyInPandas(_dedup_cell, schema=out_schema))


def semdedup_indexed(spark, index_dir: str, threshold: float = 0.9,
                     max_cell_warn: int = 100_000) -> DataFrame:
    """Production SemDeDup: the same upper-triangular cluster-local rule
    as :func:`semdedup`, with cluster assignment read from a persisted
    trained IVF index (:func:`ivf_build_index`) instead of literal
    centroids. The paper's k ∝ corpus-size contract lives in the index
    build (`n_cells`), which is what keeps per-cell pair work bounded
    as the corpus grows — and because the index already stores the
    corpus partitioned (static layout) or bucketed (generational
    layout) BY cell, the assignment pass costs nothing at dedup time
    and the per-cell work lands on rows already co-located on their
    grouping key. New vectors route through :func:`ivf_append` and are
    deduped by the same call — no rebuild.

    The drop rule runs in the numpy pairwise kernel
    (:func:`_semdedup_survivors_arrow`): measured 9.5 s on the sf1 skew
    case (200k vectors, 448 cells, hottest cell 2600; 67.5M proposed
    pairs) against 594 s for the SQL cell equi-join, with identical
    decisions on margin-bearing data.

    Returns (id, cell, kept) for every indexed vector."""
    import os

    meta = ivf_load_meta(index_dir)
    if meta is None:
        raise ValueError(f"no IVF index at {index_dir}")
    # slab-budget guard: the arrow kernel holds one whole cell's
    # normalized matrix (m x dim float64) plus a (row_block x m) slab
    # per task, so a cell far above the build's target size is the
    # quadratic straggler the k∝N sizing exists to prevent. max_cell
    # is maintained in the index artifact (build exact, appends as an
    # upper bound) — checking it costs zero jobs here.
    max_cell = meta.get("max_cell")
    if max_cell is not None and max_cell > max_cell_warn:
        import warnings
        warnings.warn(
            f"IVF index at {index_dir} has a cell with ~{max_cell} "
            f"vectors (> max_cell_warn={max_cell_warn}); per-cell "
            "dedup work is quadratic in cell size — retrain with "
            "auto-sized n_cells (ivf_build_index(n_cells=None) sizes "
            "cells ~ target_cell_size) or raise n_cells",
            stacklevel=2)
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    if meta.get("layout") == "generational":
        from data_services_spark.streaming.ingest import read_merged_state
        corpus = read_merged_state(
            spark, os.path.join(index_dir, meta["state_subdir"]))
    else:
        corpus = spark.read.parquet(os.path.join(index_dir, "corpus"))
    tagged = corpus.select(F.col(id_col), F.col(vec_col),
                           F.col("__cell").cast("long").alias("cell"))
    return _semdedup_survivors_arrow(tagged, threshold, id_col, vec_col)


def nearest_within_group(embeddings: DataFrame, group_col: str = "label",
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """L4: for every vector, its nearest neighbour within the same group
    (label-blocked all-pairs — the blocked form of the similarity self-join;
    at scale the blocks come from LSH buckets instead of labels).

    Round 13 (guide §1.2 per-task work + §2.2):

    - each row's L2 norm is computed ONCE on the n input rows before
      the join instead of once per joined pair — identical doubles
      (same expression over the same values; the per-pair cosine is
      the same dot/(na*nb) formula), but the O(n) norm work stops
      riding the O(sum |block|^2) pair stream;
    - the PAIR dot deliberately keeps the fold form: the dim-unrolled
      variant over two column arrays (128 element_at terms + null
      checks per pair) explodes the generated method past JIT limits —
      measured 13.4 s vs 2.9 s fold at sf0.1;
    - the probe side of the broadcast join is the raw scan, so a
      single-split corpus ran the whole pair stream on ONE task — the
      chain-gate widen parallelizes it (no-op at scale/small sf).

    Together: 8.0 s -> 1.2 s noop at sf0.1 (5k x 64-dim, 10 labels).

    Returns (vec_id, nn_id, cosine_sim).
    """
    from data_services_spark.functions.vectors import l2_norm
    from data_services_spark.plans.widen import (
        CHAIN_MIN_BYTES, widen_if_narrow)
    probe = widen_if_narrow(
        embeddings.select(group_col, id_col, vec_col),
        min_bytes=CHAIN_MIN_BYTES)
    a = probe.select(F.col(group_col).alias("g"),
                     F.col(id_col).alias("vec_id"),
                     F.col(vec_col).alias("va"),
                     l2_norm(F.col(vec_col)).alias("__na"))
    b = embeddings.select(F.col(group_col).alias("g"),
                          F.col(id_col).alias("nn_id"),
                          F.col(vec_col).alias("vb"),
                          l2_norm(F.col(vec_col)).alias("__nb"))
    pairs = (a.join(b, "g")
             .filter(F.col("vec_id") != F.col("nn_id"))
             .select("vec_id", "nn_id",
                     (dot_product("va", "vb")
                      / (F.col("__na") * F.col("__nb")))
                     .alias("cosine_sim")))
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine_sim"), F.col("nn_id"))
    return (pairs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "nn_id", "cosine_sim"))


def ivf_fixed_topk(embeddings: DataFrame, query_id: int,
                   centroids: Sequence[Sequence[float]], k: int = 10,
                   nprobe: int = 2, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """IVF ANN with FIXED literal centroids — the exactly-checkable twin
    of :func:`ivf_topk` (whose k-means training is not SQL-expressible).

    Cell assignment is argmax dot(embedding, centroid) with first-index
    tie-break; the query's `nprobe` best cells are ranked by the SAME
    Catalyst fold (no driver-side float arithmetic to disagree with the
    oracle); candidates in probed cells score exactly. Every stage —
    assignment, probe ranking, final top-k — reproduces in SQL from the
    same centroid literals, so the driver hash-checks the full IVF
    pipeline. Fixed centroids trade recall for checkability; production
    uses the trained quantizer + partition-pruned layout
    (:func:`ivf_build_index`)."""
    dots = F.array(*[
        dot_product(F.col(vec_col), F.array(*[F.lit(x) for x in c]))
        for c in centroids])
    tagged = (embeddings.withColumn("__ds", dots)
              .withColumn("__cell",
                          F.array_position(F.col("__ds"),
                                           F.array_max("__ds"))
                          .cast("long")))
    q = (tagged.filter(F.col(id_col) == query_id)
         .select(F.col(vec_col).alias("__qv"), F.col("__ds").alias("__qds")))
    qc = (q.select(F.posexplode("__qds").alias("__i", "__d"))
          .select((F.col("__i") + 1).cast("long").alias("__cell"), "__d")
          .orderBy(F.desc("__d"), "__cell").limit(nprobe)
          .select("__cell"))
    cand = (tagged.filter(F.col(id_col) != query_id)
            .join(F.broadcast(qc), "__cell")
            .crossJoin(F.broadcast(q.select("__qv")))
            .select(F.col(id_col),
                    cosine_similarity(F.col(vec_col), F.col("__qv"))
                    .alias("cosine_sim")))
    top = cand.orderBy(F.desc("cosine_sim"), F.col(id_col)).limit(k)
    w = Window.orderBy(F.desc("cosine_sim"), F.col(id_col))
    return top.select(F.row_number().over(w).cast("long").alias("rank"),
                      F.col(id_col), F.col("cosine_sim"))


def ivf_topk(embeddings: DataFrame, query_id: int, k: int = 10,
             n_cells: int = 16, nprobe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding",
             seed: int = 42) -> DataFrame:
    """L3 scale path #2: IVF (inverted-file) ANN with TRAINED centroids —
    k-means coarse quantizer, search restricted to the `nprobe` cells
    nearest the query. Same output contract as :func:`knn_topk`
    (rank, id, cosine_sim), approximate recall.

    vs sign-LSH (:func:`ann_hyperplane_topk`): trained cells adapt to the
    data distribution, so recall at equal probe cost is higher on
    clustered corpora. Train cost is one k-means pass (sampled at scale);
    assignment is a broadcast-centroid argmin, fully distributed.

    At 100 TB: train on a sample (`df.sample`), persist centroids,
    partition the corpus BY cell id on write — a probe then reads only
    `nprobe` partition directories (directory pruning does the cell
    selection before any scan).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    vecs = embeddings.select(
        F.col(id_col), F.col(vec_col),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("__fv"))
    km = KMeans(k=n_cells, seed=seed, featuresCol="__fv",
                predictionCol="__cell")
    model = km.fit(vecs)
    assigned = model.transform(vecs)

    # Rank cells by distance to the query WITHOUT a driver fetch of the
    # query vector: centroids are already driver-side literals (n_cells x
    # dim — metadata scale), and argmin ||c - q|| == argmin (|c|^2 - 2c.q)
    # since |q|^2 is constant — so the ranking key is a Catalyst fold over
    # the query ROW, selected with the same posexplode + broadcast-join
    # shape as ivf_fixed_topk. One job for the whole probe, no .head().
    centers = [[float(x) for x in c] for c in model.clusterCenters()]
    neg_keys = F.array(*[
        F.lit(float(sum(x * x for x in c)))
        - F.lit(2.0) * dot_product(F.col(vec_col),
                                   F.array(*[F.lit(x) for x in c]))
        for c in centers])
    q = (embeddings.filter(F.col(id_col) == query_id)
         .select(F.col(vec_col).alias("__qv"), neg_keys.alias("__dk")))
    qc = (q.select(F.posexplode("__dk").alias("__i", "__d"))
          .select(F.col("__i").cast("integer").alias("__cell"), "__d")
          .orderBy("__d", "__cell").limit(nprobe)
          .select("__cell"))

    cand = assigned.join(F.broadcast(qc), "__cell")
    scored = (cand.filter(F.col(id_col) != query_id)
              .crossJoin(F.broadcast(q.select("__qv")))
              .select(F.col(id_col),
                      cosine_similarity(F.col(vec_col), F.col("__qv"))
                      .alias("cosine_sim")))
    top = scored.orderBy(F.desc("cosine_sim"), F.col(id_col)).limit(k)
    w = Window.orderBy(F.desc("cosine_sim"), F.col(id_col))
    return top.select(F.row_number().over(w).cast("long").alias("rank"),
                      F.col(id_col), F.col("cosine_sim"))


def ivf_build_index(embeddings: DataFrame, index_dir: str,
                    n_cells: int | None = None,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    seed: int = 42,
                    sample_fraction: float | None = None,
                    incremental: bool = False,
                    target_cell_size: int = 200) -> dict:
    """Materialize an IVF index: the corpus written PARTITIONED BY its
    k-means cell id, plus a tiny ``centroids.json`` artifact (the trained
    coarse quantizer + build params). Build once, probe many — the
    100 TB contract:

    - training reads a sample (`sample_fraction`), never the full corpus;
    - the partitioned layout turns cell selection into DIRECTORY pruning:
      a probe lists only `nprobe` of `n_cells` directories
      (plan-asserted in tests/test_operators.py), i.e. it scans
      ~nprobe/n_cells of the corpus before any row is read;
    - centroids are a driver-side artifact (n_cells × dim floats), so
      probes never re-fit — re-fitting per query was the round-2 weak
      spot this replaces.

    ``incremental=True`` stores the corpus in the GENERATIONAL bucketed
    state (streaming/ingest.py) instead of a static partitioned write —
    key ``(id, cell)``, buckets hashed on the cell id — so new vectors
    route through :func:`ivf_append` (assign to the nearest EXISTING
    centroid, rewrite only the touched cells' buckets) instead of the
    full-corpus rebuild a static layout forces; probes prune via the
    manifest exactly as the static layout prunes via directories. A
    drift counter in the artifact recommends re-training
    (:func:`ivf_maybe_retrain`) once appends outgrow the trained
    quantizer.

    ``n_cells=None`` (default) AUTO-SIZES the quantizer to the corpus:
    ``cells = clamp(ceil(N / target_cell_size), 2, 65536)`` — the
    SemDeDup paper's k ∝ N contract made structural instead of a knob.
    The round-7 sf1 skew wall (448 manually-chosen cells -> one
    2600-vector hot cell serializing the SQL kernel at 594s, vs 32s at
    the k∝N sizing) cannot be configured by accident anymore; passing
    an explicit `n_cells` remains the escape hatch for oracle-pinned
    twins that need a literal cell count. The build also records the
    realized cell histogram's ceiling (``max_cell``, maintained as an
    upper bound across appends) so :func:`semdedup_indexed` can warn
    when a cell outgrows the arrow kernel's slab budget.
    """
    import json
    import math
    import os
    import uuid

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    auto_sized = n_cells is None
    if auto_sized:
        # one count job at build time buys the paper's k∝N sizing; the
        # clamp floor keeps k-means meaningful on toy corpora and the
        # ceiling bounds the driver-side centroid artifact (65536 cells
        # x dim floats)
        n_total = embeddings.count()
        n_cells = max(2, min(65536, math.ceil(n_total / target_cell_size)))

    vecs = embeddings.select(
        F.col(id_col), F.col(vec_col),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("__fv"))
    train = vecs if sample_fraction is None else \
        vecs.sample(fraction=sample_fraction, seed=seed)
    model = KMeans(k=n_cells, seed=seed, featuresCol="__fv",
                   predictionCol="__cell").fit(train)
    from pyspark import StorageLevel
    # persist bounds the build to ONE assignment pass: the histogram
    # collect below and the corpus write both consume `assigned`, and
    # without a cache each action re-runs the full model.transform
    # lineage over the corpus (round-8 review). Build-scoped: the
    # function is eager end-to-end, so the unpersist in `finally`
    # leaves no cache behind. MEMORY_AND_DISK, not MEMORY_ONLY: an
    # evicted partition here would recompute the k-means transform,
    # which is exactly the pass being saved.
    assigned = model.transform(vecs).select(
        id_col, vec_col, F.col("__cell").cast("int").alias("__cell")) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # realized cell histogram: n_cells rows — a driver artifact
        # (the centroids.json contract), used by semdedup_indexed's
        # slab-budget warning and kept an UPPER BOUND by ivf_append
        cell_counts = {int(r["__cell"]): int(r["cnt"]) for r in
                       assigned.groupBy("__cell")
                               .agg(F.count(F.lit(1)).alias("cnt"))
                               .collect()}

        meta = {
            "n_cells": n_cells, "seed": seed,
            "id_col": id_col, "vec_col": vec_col,
            "auto_sized": auto_sized,
            "target_cell_size": target_cell_size,
            "max_cell": max(cell_counts.values(), default=0),
            "cell_counts": {str(c): n for c, n in cell_counts.items()},
            "centroids": [[float(x) for x in c]
                          for c in model.clusterCenters()],
        }
        if incremental:
            # versioned subdir: a retrain builds a sibling state and
            # swaps the artifact pointer, so probes against the old
            # quantizer stay consistent until the swap
            subdir = f"corpus_state-{uuid.uuid4().hex[:8]}"
            n_indexed = _ivf_state_write(assigned, index_dir, subdir,
                                         batch_id=0, id_col=id_col,
                                         vec_col=vec_col,
                                         n_cells=n_cells)
            meta.update({"layout": "generational",
                         "state_subdir": subdir,
                         "n_indexed": n_indexed, "appended": 0})
        else:
            corpus_dir = os.path.join(index_dir, "corpus")
            assigned.write.mode("overwrite").partitionBy("__cell") \
                .parquet(corpus_dir)
            meta["layout"] = "static"
    finally:
        assigned.unpersist()
    # artifact lands atomically AFTER the corpus: a crash mid-build
    # leaves no centroids.json, and the builder simply rebuilds
    _ivf_write_meta(index_dir, meta)
    return meta


def _ivf_write_meta(index_dir: str, meta: dict) -> None:
    import json
    import os

    os.makedirs(index_dir, exist_ok=True)
    tmp = os.path.join(index_dir, "centroids.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, os.path.join(index_dir, "centroids.json"))


def _ivf_state_write(assigned: DataFrame, index_dir: str, subdir: str,
                     batch_id: int, id_col: str, vec_col: str,
                     n_cells: int) -> int:
    """One batch of (id, vec, __cell) rows into the generational corpus
    state. Key = (id, cell) with buckets hashing the CELL id — so a
    probe's nprobe cells map to at most nprobe manifest buckets (hash
    collisions between cells merely widen a read; the post-filter on
    __cell keeps results exact), and an append rewrites only the
    buckets its batch's cells hash to. Rank = -batch_id: a re-appended
    (id, cell) key takes the newest embedding (last-write-wins), while
    the merge key keeps same-id-different-cell rows distinct — the
    append-only contract ivf_append documents."""
    import os

    from data_services_spark.streaming.ingest import merge_upsert_batch

    state_dir = os.path.join(index_dir, subdir)
    batch = assigned.withColumn("__rank",
                                F.lit(-batch_id).cast("long"))
    merge_upsert_batch(
        assigned.sparkSession, batch, state_dir, batch_id,
        scalar_props=(vec_col,), list_props=(), rank_col="__rank",
        key_cols=(id_col, "__cell"), bucket_cols=("__cell",),
        num_buckets=n_cells)
    return batch.count()


def ivf_load_meta(index_dir: str) -> dict | None:
    """The build artifact, or None if the index was never (fully) built."""
    import json
    import os

    path = os.path.join(index_dir, "centroids.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def ivf_append(spark, index_dir: str, new_vectors: DataFrame,
               drift_threshold: float = 0.25) -> dict:
    """Append new vectors to a GENERATIONAL IVF index without the full
    rebuild a static layout forces (previously ~a whole re-train +
    re-write of the corpus per append): each vector is assigned to the
    nearest EXISTING centroid by the same JVM-side squared-distance
    fold the probe ranking uses (argmin |c|^2 - 2c·x; |x|^2 is
    constant), and the batch merges into the corpus state rewriting
    ONLY the buckets its cells hash to — O(touched cells' rows), not
    O(corpus).

    Append-only contract: ids are new. Re-appending an id with the
    SAME embedding is an idempotent upsert; re-appending with a
    DIFFERENT embedding that lands in another cell leaves both copies
    indexed (delete first if you need replacement semantics).

    The trained quantizer drifts as appends accumulate: recall degrades
    once the appended mass is no longer distributed like the training
    corpus. Returns ``{"appended_rows", "appended_total",
    "appended_fraction", "retrain_recommended", "batch_id"}`` —
    ``retrain_recommended`` fires when appends exceed
    ``drift_threshold`` of the trained corpus size; act on it with
    :func:`ivf_maybe_retrain`."""
    import os

    from data_services_spark.streaming.ingest import _read_manifest

    meta = ivf_load_meta(index_dir)
    if meta is None:
        raise FileNotFoundError(f"no built IVF index in {index_dir}")
    if meta.get("layout") != "generational":
        raise ValueError(
            f"IVF index in {index_dir} has a static layout; build with "
            "incremental=True to support appends (a static index must "
            "rebuild)")
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    centers = meta["centroids"]
    # nearest existing centroid, all JVM-side (same fold as ivf_topk)
    neg_keys = F.array(*[
        F.lit(float(sum(x * x for x in c)))
        - F.lit(2.0) * dot_product(F.col(vec_col),
                                   F.array(*[F.lit(float(x)) for x in c]))
        for c in centers])
    assigned = (new_vectors
                .withColumn("__dk", neg_keys)
                .withColumn("__cell",
                            (F.array_position(F.col("__dk"),
                                              F.array_min("__dk")) - 1)
                            .cast("int"))
                .select(id_col, vec_col, "__cell"))
    state_dir = os.path.join(index_dir, meta["state_subdir"])
    manifest = _read_manifest(state_dir)
    batch_id = 1 if manifest is None else \
        manifest.get("batch_watermark", manifest["gen"]) + 1
    # maintain the build-time cell histogram (an UPPER BOUND: an
    # idempotent re-append of an existing id counts twice here while
    # the state upserts it once — fine for the slab-budget warning,
    # which only needs a ceiling). n_cells rows collected: the same
    # driver-artifact scale as the centroid list itself. A LEGACY
    # index (built before histograms existed) has no cell_counts —
    # skip maintenance rather than fabricate a max_cell from the
    # append batch alone, which would be an UNDER-count that silently
    # suppresses semdedup_indexed's slab-budget warning (round-8
    # review); absent stays absent, and the artifact makes no false
    # claim until a retrain rebuilds the true histogram.
    # Persist across the two consumers (histogram collect + state
    # write) so the centroid-assignment fold over the batch runs ONCE
    # — the exact re-computation class the build-side persist exists
    # to prevent (round-8 advice). MEMORY_AND_DISK, mirroring
    # ivf_build_index; unpersist in finally so a failed write never
    # leaks the cached batch.
    from pyspark import StorageLevel
    persisted = "cell_counts" in meta
    if persisted:
        assigned = assigned.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        if "cell_counts" in meta:
            batch_counts = {int(r["__cell"]): int(r["cnt"]) for r in
                            assigned.groupBy("__cell")
                                    .agg(F.count(F.lit(1)).alias("cnt"))
                                    .collect()}
            counts = {int(c): int(v)
                      for c, v in meta["cell_counts"].items()}
            for c, v in batch_counts.items():
                counts[c] = counts.get(c, 0) + v
            meta["cell_counts"] = {str(c): v for c, v in counts.items()}
            meta["max_cell"] = max(counts.values(), default=0)
        n = _ivf_state_write(assigned, index_dir, meta["state_subdir"],
                             batch_id=batch_id, id_col=id_col,
                             vec_col=vec_col, n_cells=meta["n_cells"])
    finally:
        if persisted:
            try:
                assigned.unpersist()
            except Exception:  # noqa: BLE001 - dead-session cache
                pass
    meta["appended"] = meta.get("appended", 0) + n
    frac = meta["appended"] / max(1, meta.get("n_indexed", 1))
    _ivf_write_meta(index_dir, meta)
    return {"appended_rows": n, "appended_total": meta["appended"],
            "appended_fraction": frac,
            "retrain_recommended": frac > drift_threshold,
            "batch_id": batch_id}


def ivf_maybe_retrain(spark, index_dir: str,
                      drift_threshold: float = 0.25,
                      force: bool = False,
                      sample_fraction: float | None = None) -> dict:
    """Re-train a generational IVF index once appends exceed the drift
    threshold (or ``force=True``): read the full current corpus from
    the state, fit fresh centroids, build a SIBLING state dir, and
    atomically swap the artifact pointer — probes against the old
    quantizer stay consistent until the swap, after which the old state
    is removed. Returns ``{"retrained": bool, "appended_fraction"}``.
    """
    import os
    import shutil

    from data_services_spark.streaming.ingest import read_merged_state

    meta = ivf_load_meta(index_dir)
    if meta is None or meta.get("layout") != "generational":
        raise FileNotFoundError(
            f"no generational IVF index in {index_dir}")
    frac = meta.get("appended", 0) / max(1, meta.get("n_indexed", 1))
    if not force and frac <= drift_threshold:
        return {"retrained": False, "appended_fraction": frac}
    old_subdir = meta["state_subdir"]
    corpus = read_merged_state(
        spark, os.path.join(index_dir, old_subdir)) \
        .select(meta["id_col"], meta["vec_col"])
    # an auto-sized index stays k∝N ACROSS retrains: the post-append
    # corpus is larger, so re-sizing (n_cells=None) is the point of the
    # drift retrain; an explicitly-sized index keeps its literal count
    # (oracle-pinned twins depend on it)
    ivf_build_index(corpus, index_dir,
                    n_cells=None if meta.get("auto_sized")
                    else meta["n_cells"],
                    id_col=meta["id_col"], vec_col=meta["vec_col"],
                    seed=meta["seed"], sample_fraction=sample_fraction,
                    incremental=True,
                    target_cell_size=meta.get("target_cell_size", 200))
    shutil.rmtree(os.path.join(index_dir, old_subdir), ignore_errors=True)
    return {"retrained": True, "appended_fraction": frac}


def ivf_probe_topk(spark, index_dir: str, query_vec: Sequence[float],
                   k: int = 10, nprobe: int = 4,
                   exclude_id: int | None = None) -> DataFrame:
    """Probe a built IVF index: rank cells by centroid distance to the
    query DRIVER-SIDE (n_cells × dim floats — metadata scale), then scan
    only the `nprobe` nearest cells' data. For a static index that is
    partition-directory pruning; for a generational (appendable) index
    it is manifest-bucket pruning — the probe cells' hash buckets are
    computed with the writer's own hash (one metadata-scale job) and
    only those bucket directories are read, with an exact ``__cell``
    post-filter absorbing hash collisions. Same output contract as
    :func:`knn_topk` (rank, id, cosine_sim)."""
    import math
    import os

    meta = ivf_load_meta(index_dir)
    if meta is None:
        raise FileNotFoundError(f"no built IVF index in {index_dir}")
    qv = [float(x) for x in query_vec]
    probe_ids = sorted(
        range(meta["n_cells"]),
        key=lambda i: math.dist(meta["centroids"][i], qv))[:nprobe]

    id_col, vec_col = meta["id_col"], meta["vec_col"]
    if meta.get("layout") == "generational":
        from data_services_spark.streaming.ingest import (
            _bucket_paths, _read_manifest, read_merged_state,
        )
        state_dir = os.path.join(index_dir, meta["state_subdir"])
        nb = meta["n_cells"]
        buckets = sorted({
            r.b for r in spark.createDataFrame(
                [(int(c),) for c in probe_ids], "c int")
            .select(F.pmod(F.xxhash64("c"), F.lit(nb))
                    .cast("int").alias("b")).collect()})
        manifest = _read_manifest(state_dir)
        if manifest is None:
            raise FileNotFoundError(
                f"IVF index in {index_dir} has no committed corpus state")
        if not _bucket_paths(state_dir, manifest, buckets):
            # every probed cell is empty: a valid, empty result
            return spark.createDataFrame(
                [], f"rank long, {id_col} long, cosine_sim double")
        corpus = read_merged_state(spark, state_dir, buckets=buckets)
    else:
        corpus = spark.read.parquet(os.path.join(index_dir, "corpus"))
    cand = corpus.filter(F.col("__cell").isin(probe_ids))
    if exclude_id is not None:
        cand = cand.filter(F.col(id_col) != exclude_id)
    # one JVM-side parse for the query literal (%.17g round-trips float64)
    q_expr = F.expr("array({})".format(
        ", ".join("CAST(%.17g AS DOUBLE)" % x for x in qv)))
    scored = cand.select(
        F.col(id_col),
        cosine_similarity(F.col(vec_col), q_expr).alias("cosine_sim"))
    top = scored.orderBy(F.desc("cosine_sim"), F.col(id_col)).limit(k)
    w = Window.orderBy(F.desc("cosine_sim"), F.col(id_col))
    return top.select(F.row_number().over(w).cast("long").alias("rank"),
                      F.col(id_col), F.col("cosine_sim"))


def project_embeddings(embeddings: DataFrame,
                       planes: Sequence[Sequence[float]],
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """Random-projection (Johnson–Lindenstrauss) dimensionality
    reduction: project each vector onto ``len(planes)`` fixed literal
    directions — the standard pre-ANN / pre-clustering cut when int8
    quantization (4×) is not enough and PQ's codebook training is not
    wanted; also the dense sibling of the sign-LSH bucketer (same
    planes, dots kept instead of sign bits).

    Each output dimension unrolls as ONE flat left-associated literal
    sum (the knn_topk/_bucket_expr device: one F.expr parse, no py4j
    Column churn, one CodegenFallback barrier on the first projection
    so the unrolled tree stays out of WSCG source generation) — a
    map-only zero-shuffle pass emitting one DOUBLE column per output
    dim (``p0..p{k-1}``, scalar-only: the driver canon cannot sort
    top-level arrays). The 1/sqrt(k) JL scale is deliberately NOT
    applied: it is a constant that folds into whatever distance the
    reduced vectors feed, and leaving the raw dots keeps the oracle a
    plain list_dot_product.

    Returns (id, p0, ..., p{k-1}).
    """
    vq = "`" + vec_col.replace("`", "``") + "`"
    dim = len(planes[0])
    elem = [f"CAST({vq}[{i}] AS DOUBLE)" for i in range(dim)]
    one_fb = (f"aggregate(array({elem[0]}), CAST(1.0 AS DOUBLE), "
              f"(a, x) -> a)")
    cols: list[F.Column] = [F.col(id_col)]
    for j, plane in enumerate(planes):
        dot = " + ".join(
            f"{elem[i]} * CAST('{float(plane[i])!r}' AS DOUBLE)"
            for i in range(dim))
        guarded = f"(({dot}) * {one_fb})" if j == 0 else f"({dot})"
        cols.append(F.expr(guarded).alias(f"p{j}"))
    return embeddings.select(*cols)


def project_sql(vec_expr: str,
                planes: Sequence[Sequence[float]]) -> list[str]:
    """DuckDB twins of :func:`project_embeddings`'s output columns."""
    return [
        "list_dot_product(CAST(%s AS DOUBLE[]), [%s]) AS p%d"
        % (vec_expr, ", ".join(repr(float(p)) for p in plane), j)
        for j, plane in enumerate(planes)
    ]


def quantize_embeddings(embeddings: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Int8 scalar quantization of an embedding column — the 4× storage
    cut (float32 → int8 + one scale) every 100 TB vector corpus takes
    before ANN indexing; reconstruction is ``q_i * scale``.

    Per vector: ``scale = max(|x_i|) / 127``; ``q_i = floor(x_i / scale
    + 0.5)`` (explicit half-up rounding — both engines' ``round()``
    differ in half-way convention, ``floor(x + 0.5)`` does not). The
    all-zero vector quantizes to zeros with scale 0 (guarded division).
    Returns (id, scale double, qvec array<int>). Pure per-row Catalyst
    projection: no shuffle, no Python — at scale this is a map-only
    pass that parallelizes perfectly.

    Exactness contract with the DuckDB oracle: elements CAST to DOUBLE
    before any arithmetic (float32→float64 widening is exact), max over
    |x| is order-independent, and `/ scale + 0.5` is the same literal
    expression both sides — bit-identical doubles in, identical ints
    out.
    """
    v = F.col(vec_col)
    scale = (F.array_max(F.transform(
        v, lambda x: F.abs(x.cast("double")))) / F.lit(127.0))
    q = F.when(
        scale > 0,
        F.transform(v, lambda x: F.floor(x.cast("double") / scale + 0.5)
                    .cast("int"))
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return embeddings.select(F.col(id_col), scale.alias("scale"),
                             q.alias("qvec"))


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the ANN compression step past int8 scalar
# quantization: dim splits into m subvectors, each encoded as the index of
# its nearest per-subspace centroid (m bytes per vector at k<=256), and
# queries score against codes via an asymmetric-distance LUT without ever
# reconstructing vectors (Jegou et al., "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011). Composes with the IVF index (IVF-PQ is
# the canonical billion-scale layout: coarse cells prune, codes score).
# ---------------------------------------------------------------------------

def pq_fixed_codebooks(dim: int, m: int = 8, k: int = 16,
                       seed: int = 7) -> list[list[list[float]]]:
    """Deterministic literal codebooks (m x k x dim/m, rounded to 6
    decimals) — the hyperplane_planes device: fixed literals make every
    PQ stage exactly expressible in both Spark SQL and the DuckDB
    oracle, turning PQ from a rows-only check into a value-hash one.
    Production trains real codebooks with :func:`pq_train`."""
    import numpy as np

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    rs = np.random.RandomState(seed)
    dsub = dim // m
    return [[[float(x) for x in np.round(row, 6)]
             for row in rs.uniform(-1.0, 1.0, size=(k, dsub))]
            for _ in range(m)]


def _pq_code_sql(vec: str, j: int, codebook, dsub: int,
                 engine: str) -> str:
    """0-based nearest-centroid code for subspace j as ONE SQL string,
    generated for either engine from the same literal fold so the
    argmin keys are bit-identical doubles: dk_c = |c|^2 - 2*(c . x_j)
    (|x_j|^2 is constant under the argmin). Ties take the FIRST
    position in both engines (array_position/list_position return the
    first match of the min)."""
    base = j * dsub
    one = "CAST({v}[{i}] AS DOUBLE)"
    # Spark SQL arrays index 0-based, DuckDB lists 1-based; float
    # literals ride as CAST('repr' AS DOUBLE) — the _bucket_expr
    # device, valid in BOTH dialects and exactly the Python repr
    # round-trip (a bare decimal literal would parse as DECIMAL in
    # both engines and poison the arithmetic)
    off = 0 if engine == "spark" else 1
    amin, apos = (("array_min", "array_position") if engine == "spark"
                  else ("list_min", "list_position"))

    def lit(x: float) -> str:
        return f"CAST('{float(x)!r}' AS DOUBLE)"

    dks = []
    for c in codebook:
        c_sq = float(sum(x * x for x in c))
        dot = " + ".join(
            f"{one.format(v=vec, i=base + i + off)} * {lit(c[i])}"
            for i in range(dsub))
        dks.append(f"{lit(c_sq)} - 2.0 * ({dot})")
    arr = "[" + ", ".join(dks) + "]" if engine != "spark" \
        else "array(" + ", ".join(dks) + ")"
    return f"CAST({apos}({arr}, {amin}({arr})) - 1 AS INT)"


def pq_encode_expr(vec_col: str, codebooks, engine: str = "spark"):
    """Per-subspace code expressions (list of SQL strings)."""
    dsub = len(codebooks[0][0])
    return [_pq_code_sql(vec_col, j, cb, dsub, engine)
            for j, cb in enumerate(codebooks)]


def pq_adc_dist_sql(vec_col: str, query: Sequence[float], codebooks,
                    engine: str = "spark") -> str:
    """The ADC distance as ONE SQL string for either engine: per
    subspace, LUT[j][c] = |q_j - C[j][c]|^2 is computed driver-side
    and folded in as literals; distance = sum_j LUT[j][code_j(x)].
    Single source of truth for the bit-exactness-critical expression —
    pq_adc_topk, ivf_pq_topk, and both registry oracle builders all
    render from here, so the Spark plan and the DuckDB oracle cannot
    drift apart (round-8 review: this fold was previously copy-pasted
    four times)."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    if len(query) != m * dsub:
        raise ValueError(f"query dim {len(query)} != {m * dsub}")
    codes = pq_encode_expr(vec_col, codebooks, engine)
    terms = []
    for j, cb in enumerate(codebooks):
        lut = [float(sum((query[j * dsub + i] - c[i]) ** 2
                         for i in range(dsub))) for c in cb]
        lits = ", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in lut)
        if engine == "spark":
            terms.append(f"element_at(array({lits}), ({codes[j]}) + 1)")
        else:
            terms.append(f"list_element([{lits}], ({codes[j]}) + 1)")
    return " + ".join(terms)


def pq_encode(embeddings: DataFrame, codebooks,
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Encode every vector as its m PQ codes — a map-only projection
    (the literal-fold device: each subspace's k distance keys unroll
    into one flat SQL expression inside whole-stage codegen; no
    shuffle, no Python). Returns (id, code0..code{m-1} int columns) —
    scalar columns by design: the driver canonicalizer cannot sort
    array cells, and m is small and fixed."""
    exprs = pq_encode_expr(vec_col, codebooks, "spark")
    return embeddings.select(
        F.col(id_col),
        *[F.expr(e).alias(f"code{j}") for j, e in enumerate(exprs)])


def pq_adc_topk(embeddings: DataFrame, query: Sequence[float],
                codebooks, k: int = 10,
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Asymmetric-distance top-k: the query stays a full-precision
    literal, the corpus is scored through its codes via a per-subspace
    lookup table LUT[j][c] = |q_j - C[j][c]|^2 computed DRIVER-side
    (m*k doubles — metadata scale) and folded into the plan as
    literals; distance(x) = sum_j LUT[j][code_j(x)]. One map-only
    scoring pass + TakeOrderedAndProject — at 100 TB this is the probe
    shape that reads m bytes per vector instead of 4*dim.

    Returns (rank, vec_id, adist) ordered by (adist asc, id)."""
    dist = pq_adc_dist_sql(vec_col, query, codebooks, "spark")
    w = Window.orderBy(F.col("adist").asc(), F.col(id_col))
    scored = (embeddings
              .select(F.col(id_col), F.expr(dist).alias("adist"))
              .orderBy(F.col("adist").asc(), F.col(id_col)).limit(k))
    return scored.select(
        F.row_number().over(w).cast("long").alias("rank"),
        id_col, "adist")


def pq_train(embeddings: DataFrame, m: int = 8, k: int = 16,
             vec_col: str = "embedding", seed: int = 42,
             sample_fraction: float | None = None):
    """Train real PQ codebooks: an independent k-means per subspace
    (the paper's construction). Training reads a sample; the returned
    codebooks are a driver artifact (m*k*dsub floats — the centroid
    contract) that feeds :func:`pq_encode`/:func:`pq_adc_topk` as
    literals, so ENCODING and PROBING never touch Python or re-fit.
    m fits run sequentially — build-time cost, not probe-time."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    first = embeddings.select(F.size(vec_col).alias("d")).first()
    if first is None:
        # .first() on an empty corpus returns None; subscripting it
        # raised an opaque TypeError (round-8 advice)
        raise ValueError("pq_train: empty corpus — no embedding rows")
    dim = first["d"]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    base = embeddings.select(F.col(vec_col).cast("array<double>")
                             .alias("__v"))
    if sample_fraction is not None:
        base = base.sample(fraction=sample_fraction, seed=seed)
    books = []
    for j in range(m):
        sub = base.select(array_to_vector(
            F.slice("__v", j * dsub + 1, dsub)).alias("__fv"))
        model = KMeans(k=k, seed=seed + j, featuresCol="__fv",
                       predictionCol="__c").fit(sub)
        books.append([[float(x) for x in c]
                      for c in model.clusterCenters()])
    return books


def ivf_pq_topk(embeddings: DataFrame, query: Sequence[float],
                centroids: Sequence[Sequence[float]], codebooks,
                k: int = 10, nprobe: int = 2,
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """IVF-PQ probe — the canonical billion-scale ANN composition
    (Jegou et al. TPAMI'11 §IVFADC): the coarse quantizer prunes the
    corpus to `nprobe` cells, PQ codes score the survivors against the
    full-precision query via the ADC LUT. With literal centroids AND
    literal codebooks the WHOLE probe is one map-only pass inside
    whole-stage codegen: cell assignment (literal-fold argmax dot),
    cell membership test against nprobe LITERAL cell ids (ranked
    driver-side from the literal query — pure metadata arithmetic,
    embedded identically in the oracle), ADC scoring, and
    TakeOrderedAndProject. Zero joins, zero shuffles; with the trained
    partitioned index the cell filter becomes directory pruning
    (ivf_build_index) — this literal twin is the exactly-checkable
    form of that probe, distances included.
    """
    qd = [float(sum(float(q) * float(c) for q, c in zip(query, cen)))
          for cen in centroids]
    order = sorted(range(len(centroids)), key=lambda i: (-qd[i], i))
    probed = [i + 1 for i in order[:nprobe]]  # 1-based cell ids

    dots = F.array(*[
        dot_product(F.col(vec_col), F.array(*[F.lit(x) for x in c]))
        for c in centroids])
    dist = pq_adc_dist_sql(vec_col, query, codebooks, "spark")

    scored = (embeddings
              .withColumn("__ds", dots)
              .withColumn("__cell",
                          F.array_position(F.col("__ds"),
                                           F.array_max("__ds"))
                          .cast("long"))
              .filter(F.col("__cell").isin([int(c) for c in probed]))
              .select(F.col(id_col), F.expr(dist).alias("adist")))
    top = scored.orderBy(F.col("adist").asc(), F.col(id_col)).limit(k)
    w = Window.orderBy(F.col("adist").asc(), F.col(id_col))
    return top.select(F.row_number().over(w).cast("long").alias("rank"),
                      F.col(id_col), F.col("adist"))
