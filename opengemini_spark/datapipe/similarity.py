"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k is the exactness baseline; the IVF variant is the
scale path: a coarse quantizer (per-label centroids here; k-means centroids
in production) prunes the candidate set to ``nprobe`` partitions before the
exact rerank, so the pair space is ``queries × (nprobe/nlist) × corpus``
instead of ``queries × corpus``.

All arithmetic is JVM-side (``zip_with`` + higher-order ``aggregate`` —
whole-stage-codegen'd), element-wise in index order with double casts so
the DuckDB oracle reproduces the floats bit-for-bit before rounding.

At cluster scale: the query side is broadcast (queries ≪ corpus), the
corpus scan is embarrassingly parallel, and the per-partition top-k is
map-side (AQE keeps the final global top-k shuffle tiny).
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import ArrayType, LongType


# Bounded registry of signature frames persisted by lsh_near_dups: each
# call caches one id-partitioned signature DataFrame that its (lazy)
# result plan reads several times. Keeping every handle alive for the
# Spark app's lifetime leaks cache across repeated invocations (ADVICE
# r5), so new calls evict the oldest entries. Unpersisting a frame a
# still-lazy result depends on is safe — Spark just recomputes it.
_LSH_SIG_CACHE: list[DataFrame] = []
_LSH_SIG_CACHE_MAX = 2


def _lsh_cache_register(sig: DataFrame) -> None:
    _LSH_SIG_CACHE.append(sig)
    while len(_LSH_SIG_CACHE) > _LSH_SIG_CACHE_MAX:
        _LSH_SIG_CACHE.pop(0).unpersist()


def unpersist_lsh_caches() -> None:
    """Drop every signature frame still cached by prior
    :func:`lsh_near_dups` calls (callers done consuming results)."""
    while _LSH_SIG_CACHE:
        _LSH_SIG_CACHE.pop().unpersist()


# Literal-chain dot fast path, used ONLY at bulk pair-scan sites (the
# SemDeDup within-cell scan and the LSH rerank): higher-order functions
# (aggregate/zip_with) evaluate INTERPRETED inside whole-stage codegen
# (~10 µs per 64-dim pair), while an explicit left-fold expression tree
# codegens to straight-line double arithmetic. The chain
# ((...(0D + t1) + t2)...) adds the same doubles in the same order as the
# fold, so the result is bit-identical and every oracle replays
# unchanged. The r9 A/B showed WHERE each form wins: the chain cut the
# SemDeDup pair stage (~cell²·k rows amortize one codegen compile) but
# REGRESSED IVF-PQ 2.5x and cosine_topk 2.4x at sf0.1 — those queries run
# many small jobs (per-iteration checkpoints, LUT builds) and each job
# re-pays analysis + janino compile of the ~140-term tree on tiny data
# (plan text 25.7 KB -> 179 KB). So `_dot` stays the interpreted fold and
# `_dot_chain` opts in per site where the row volume is pair-scan-shaped.
# Dims: 64 = the embedding fixture; other lengths fall back to the fold,
# so the operators stay dim-general.
_DOT_CHAIN_DIMS = (64,)


def _chain(terms) -> str:
    out = "0D"
    for t in terms:
        out = f"({out} + {t})"
    return out


def _dot(a: str, b: str) -> F.Column:
    """Index-ordered double-precision dot product of two array columns."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
        " 0D, (acc, v) -> acc + v)"
    )


def _dot_chain(a: str, b: str) -> F.Column:
    """Same value as :func:`_dot` (identical fold order → identical
    doubles), codegen'd as a literal chain for bulk pair scans."""
    fold = (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
        " 0D, (acc, v) -> acc + v)"
    )
    if not _DOT_CHAIN_DIMS:
        return F.expr(fold)
    branches = []
    for d in _DOT_CHAIN_DIMS:
        chain = _chain(
            f"(cast(element_at({a}, {i}) as double)"
            f" * cast(element_at({b}, {i}) as double))"
            for i in range(1, d + 1)
        )
        branches.append(f"WHEN size({a}) = {d} AND size({b}) = {d} THEN {chain}")
    return F.expr("CASE " + " ".join(branches) + f" ELSE {fold} END")


def with_norm(df: DataFrame, emb_col: str = "embedding") -> DataFrame:
    """Attach the L2 norm (double) of the embedding column as ``norm``."""
    return df.withColumn("norm", F.sqrt(_dot(emb_col, emb_col)))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k per query.

    Returns ``(query_id, vec_id, cosine, rank)``; ties broken by vec_id so
    the result is a deterministic total order. The query side is broadcast
    — at 100 TB the corpus never shuffles.
    """
    q = with_norm(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(emb_col).alias("q_emb")
        ),
        "q_emb",
    ).withColumnRenamed("norm", "q_norm")
    from opengemini_spark.catalog import parallelize_scan

    # keyed scan spread: the n·q dot folds are the cost and run on the
    # corpus scan's splits (one split on the local test parquet);
    # keyed (not round-robin) so no sort-before-repartition pass
    c = with_norm(
        parallelize_scan(
            corpus.select(F.col(id_col), F.col(emb_col).alias("c_emb")),
            by=id_col,
        ),
        "c_emb",
    ).withColumnRenamed("norm", "c_norm")
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col(id_col))
        .withColumn(
            "cosine",
            F.round(_dot("q_emb", "c_emb") / (F.col("q_norm") * F.col("c_norm")), 4),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cosine", "rank")
    )


def embedding_near_dups(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine ≥ threshold (exact, symmetric, id_a < id_b).

    Row-pair crossJoin brute force — the correctness baseline used as the
    oracle in tests. For anything beyond toy sizes use
    ``blocked_near_dups`` (exact, block-parallel) or ``lsh_near_dups``
    (sublinear candidates at near-dup thresholds).
    """
    a = with_norm(
        df.select(F.col(id_col).alias("id_a"), F.col(emb_col).alias("ea")), "ea"
    ).withColumnRenamed("norm", "na")
    b = with_norm(
        df.select(F.col(id_col).alias("id_b"), F.col(emb_col).alias("eb")), "eb"
    ).withColumnRenamed("norm", "nb")
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine", F.round(_dot("ea", "eb") / (F.col("na") * F.col("nb")), 4)
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _seq_cross_dots(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """All-pairs dot products accumulated SEQUENTIALLY over the dimension
    axis — bit-identical to ``aggregate(zip_with(...))`` (and therefore to
    the DuckDB oracle), unlike ``A @ B.T`` whose BLAS summation order is
    pairwise. 64 rank-1 updates cost the same FLOPs as the matmul."""
    out = np.zeros((A.shape[0], B.shape[0]), dtype=np.float64)
    for d in range(A.shape[1]):
        out += np.outer(A[:, d], B[:, d])
    return out


def _seq_norms(A: np.ndarray) -> np.ndarray:
    out = np.zeros(A.shape[0], dtype=np.float64)
    for d in range(A.shape[1]):
        out += A[:, d] * A[:, d]
    return np.sqrt(out)


#: target rows per block when ``blocked_near_dups`` auto-sizes: a
#: 4096×4096 float64 sub-matrix is ~128 MB of score memory per task.
BLOCK_TARGET_ROWS = 4096


def blocked_near_dups(
    df: DataFrame,
    threshold: float,
    n_blocks: int | None = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold WITHOUT a row-level crossJoin.

    Block-matrix formulation of all-pairs similarity: rows hash into
    ``n_blocks`` blocks; each of the B(B+1)/2 block pairs is one
    ``applyInPandas`` group that computes its cosine sub-matrix vectorized
    in numpy. Exact (same n² FLOPs as brute force) but executed as
    B(B+1)/2 independent tasks at BLAS throughput with each row replicated
    only B times — the standard scale-out for *exact* all-pairs. At 100 TB
    raise ``n_blocks`` so each sub-matrix fits an executor; when exactness
    is not required, ``lsh_near_dups`` is the cheaper path.

    Replaces the r1 crossJoin (VERDICT r1 "what's wrong" #2).

    ``n_blocks=None`` auto-sizes from a corpus count so each sub-matrix
    stays ~``BLOCK_TARGET_ROWS``² — one cheap count job against n² of
    scoring work; the block layout never changes the result set.
    """
    if n_blocks is None:
        n = df.count()
        n_blocks = max(8, -(-n // BLOCK_TARGET_ROWS))
    tagged = df.select(
        F.col(id_col).alias("id"), F.col(emb_col).alias("emb")
    ).withColumn("__blk", F.pmod(F.hash(F.col("id")), F.lit(n_blocks)))

    spark = df.sparkSession
    pair_rows = [
        (i * n_blocks + j, i, j)
        for i in range(n_blocks)
        for j in range(i, n_blocks)
    ]
    pairs = spark.createDataFrame(pair_rows, ["pair_id", "bi", "bj"])

    # side 0 = rows of block bi, side 1 = rows of block bj (diagonal pairs
    # carry each row once); the joins are on block keys — no cartesian node.
    off_diag = pairs.filter(F.col("bi") != F.col("bj"))
    side_a = tagged.join(
        F.broadcast(pairs), tagged["__blk"] == pairs["bi"]
    ).select("pair_id", "bi", "bj", "id", "emb", F.lit(0).alias("side"))
    side_b = tagged.join(
        F.broadcast(off_diag), tagged["__blk"] == off_diag["bj"]
    ).select("pair_id", "bi", "bj", "id", "emb", F.lit(1).alias("side"))
    staged = side_a.unionByName(side_b)

    empty = pd.DataFrame(
        {
            "id_a": pd.Series(dtype="int64"),
            "id_b": pd.Series(dtype="int64"),
            "cosine_raw": pd.Series(dtype="float64"),
        }
    )

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return empty
        diag = pdf["bi"].iloc[0] == pdf["bj"].iloc[0]
        a = pdf[pdf["side"] == 0]
        A = np.array(a["emb"].tolist(), dtype=np.float64)
        ids_a = a["id"].to_numpy()
        if diag:
            B, ids_b = A, ids_a
        else:
            b = pdf[pdf["side"] == 1]
            B = np.array(b["emb"].tolist(), dtype=np.float64)
            ids_b = b["id"].to_numpy()
        if not len(A) or not len(B):
            return empty
        C = _seq_cross_dots(A, B) / np.outer(_seq_norms(A), _seq_norms(B))
        # small slack below the threshold: the exact round-to-4dp + filter
        # happens JVM-side so rounding semantics match the SQL oracle
        ii, jj = np.where(C >= threshold - 1e-4)
        if diag:
            keep = ids_a[ii] < ids_b[jj]
            ii, jj = ii[keep], jj[keep]
        ia, ib = ids_a[ii], ids_b[jj]
        lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine_raw": C[ii, jj]})

    found = staged.groupBy("pair_id").applyInPandas(
        score, "id_a long, id_b long, cosine_raw double"
    )
    return (
        found.withColumn("cosine", F.round("cosine_raw", 4))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def adaptive_lsh_params(
    n: int,
    threshold: float,
    recall_cosine: float | None = None,
    delta: float = 1e-6,
    rand_candidates_per_vec: float = 4.0,
    min_bands: int = 8,
    max_bands: int = 48,
    min_rows: int = 2,
    max_rows: int = 32,
) -> tuple[int, int]:
    """Corpus-size-aware (bands, rows_per_band) — the 1000× lever named
    in SCALE100_r05: with FIXED banding, random collisions per vector
    grow linearly in n (n·b/2^r), so a parameterization tuned at 2k
    vectors produces ~1000× the candidate pairs at 2M. Growing the band
    width r with log n cuts random collisions exponentially while
    near-identical dups keep (near-)identical signatures at any r.

    Solves the (b, r) fixpoint of two constraints:

    - budget: expected random candidates per vector ≈ n·b/2^r ≤
      ``rand_candidates_per_vec``  →  r = ⌈log2(n·b / budget)⌉;
    - recall: a pair at cosine ``recall_cosine`` (default midway between
      the threshold and 1.0 — the planted-near-dup regime) misses every
      band with probability (1 − p^r)^b ≤ ``delta``, where p = 1 −
      arccos(c)/π is the per-hyperplane sign-agreement probability  →
      b = ⌈ln δ / ln(1 − p^r)⌉.

    Pairs at exactly the threshold get a weaker (but computable) recall;
    the rerank keeps precision exact regardless. Converges in 2-3
    iterations; clamped to [min_bands, max_bands] × [min_rows, max_rows].
    """
    import math

    if recall_cosine is None:
        recall_cosine = (1.0 + threshold) / 2.0
    p = 1.0 - math.acos(min(max(recall_cosine, -1.0), 1.0)) / math.pi
    b = min_bands
    r = min_rows
    for _ in range(8):
        r = max(min_rows, min(max_rows, math.ceil(
            math.log2(max(2.0, n * b / rand_candidates_per_vec))
        )))
        hit = p ** r
        if hit >= 1.0:
            b_new = min_bands
        else:
            b_new = max(min_bands, min(max_bands, math.ceil(
                math.log(delta) / math.log(1.0 - hit)
            )))
        if b_new == b:
            break
        b = b_new
    return b, r


def lsh_near_dups(
    df: DataFrame,
    threshold: float,
    bands: int = 48,
    rows_per_band: int = 2,
    seed: int = 0x5EED,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int | None = None,
    prefilter_dims: int | None = None,
    adaptive_n: int | None = None,
    stats_out: dict | None = None,
    prefix_group_size: int = 1,
    prefix_bits: int = 12,
    int8_rerank: bool | None = None,
) -> DataFrame:
    """Near-dup pairs via random-hyperplane (sign) LSH + exact rerank.

    Candidate generation: ``bands × rows_per_band`` hyperplanes (seeded,
    deterministic); two vectors collide in a band iff all its sign bits
    agree, so P(candidate) = 1-(1-p^r)^b with p = 1 - θ/π. The defaults
    (b=48, r=2) push per-pair miss probability below 1e-11 even for pairs
    at cosine 0.45; for true near-dup thresholds (≥0.8) fewer, wider bands
    (e.g. b=16, r=8) give far smaller candidate sets. Colliding pairs are
    reranked with the exact JVM-side cosine, so the output equals brute
    force whenever every qualifying pair collides at least once.

    Scale shape: signature is one Arrow-batched matmul per partition; the
    candidate self-join shuffles on (band, key) — compact keys, never n²;
    the rerank touches only colliding pairs. Low thresholds inflate
    candidates (band buckets grow); that regime belongs to
    ``blocked_near_dups``.

    Rerank pre-partitioning (the 1000× lever named in SCALE100_r04): the
    signature frame is hash-repartitioned by id ONCE and every consumer —
    both sides of the band self-join and both vector lookups of the
    rerank — hangs off that single exchange, so Catalyst's ReuseExchange
    computes the matmul UDF and ships the vectors exactly once (the old
    plan re-ran the UDF three times and exchanged the full vector set
    once per rerank side). Norms are computed per vector before the
    join, not per colliding pair; the cosine expression keeps the exact
    dot/(√·√) operation order so results stay bitwise identical.

    Prefix-shared banding (``prefix_group_size`` > 1 — the 10000× lever
    named in SCALE1000_r06): bands are grouped, and every band in a
    group shares the same ``prefix_bits`` leading signature bits; the
    per-band key becomes (shared prefix, band-specific suffix). The
    bucket explode then ships ONE row per (vector, group) — carrying the
    group's suffix array — instead of one row per band, cutting the
    explode exchange ``prefix_group_size``×; the per-band expansion
    happens AFTER the (group, prefix) repartition, and the band
    self-join runs exchange-free because HashPartitioning(group, prefix)
    is a subset of the join key (ClusteredDistribution satisfied).
    RECALL CONTRACT: sharing prefix bits correlates the bands in a
    group (one prefix-bit disagreement kills the whole group), so this
    mode is sound only for the (near-)identical-dup regime — at cosine
    1.0 every bit agrees and recall is exactly 1 at ANY grouping;
    otherwise the pair-miss probability becomes
    (1 − pˢ·(1−(1−pʳ)^{b/g}))^g (s = prefix_bits, g = band groups)
    instead of the independent-band (1−pʳ)^b. For general thresholds
    keep the default ``prefix_group_size=1`` (independent bands, the
    adaptive_lsh_params delta bound). The prefix bits are ADDITIONAL to
    the ``rows_per_band`` suffix bits, so random collisions per band
    only drop (each band key gains s bits of entropy).

    Lossless candidate prefilter (``prefilter_dims``): the one exchange
    exact rerank cannot avoid is a vector riding with each candidate
    pair from id_a-space to id_b-space. When the threshold is high, a
    Cauchy–Schwarz upper bound — dot(prefix_a, prefix_b) +
    ‖rest_a‖·‖rest_b‖ ≥ dot(a, b) — computed from a ``prefilter_dims``-
    wide prefix plus one rest-norm scalar discards pairs that cannot
    reach the threshold BEFORE any full vector moves, cutting that
    exchange's payload ~dim/(prefilter_dims+2)×. The bound is exact
    (never drops a qualifying pair; the 1e-4 margin covers the output
    rounding), so results stay identical to the unfiltered plan.
    Default: auto-on at dim/4 prefix width for threshold ≥ 0.8 — below
    that, near-orthogonal pairs pass the bound anyway and the extra
    pass would be pure cost. Pass 0 to force off.

    int8-codes rerank exchange (``int8_rerank`` — the 1000×/10000×
    bytes lever named in SCALE1000_r06/r07): instead of the
    Cauchy–Schwarz prefix (16 float64 = 128 B riding with every
    candidate pair), ship each side's int8 code array + 3 scalars
    (~70 B) and filter on the EXACT-int integer code dot plus a
    rigorous quantization error bound: with aᵢ = caᵢ·s_a + eᵢ,
    |eᵢ| ≤ s_a/2 (round-to-nearest, scale = max|x|/127),

        |dot(a,b) − s_a·s_b·Σ caᵢ·cbᵢ|
            ≤ s_a·s_b·(L1a/2 + L1b/2 + d/4),   L1 = Σ|caᵢ|,

    so keeping pairs with (code_dot·s_a·s_b + E)/(‖a‖‖b‖) ≥ threshold −
    1e-4 can never drop a qualifying pair and the exact-cosine rerank of
    the (tiny) survivor set returns the IDENTICAL output frame. For unit
    vectors E ≈ 1.3e-4, so survivors ≈ the true pair set — both a
    smaller ride payload AND a far tighter filter than the prefix bound
    (which keeps any pair whose rest-norms are large). A/B'd at 1000×
    (SCALE1000_r08, 4M corpus, planted cosine-1.0 dups, adaptive
    banding): shuffle +5.2% and the candidate-stage CPU 3.5× the
    prefix filter's (the 64-dim code dot evaluates interpreted), wall
    −18% but box-noise-dominated — because ADAPTIVE banding already
    makes candidates ≈ true pairs, so in that regime ANY prefilter is
    overhead and the cheaper 16-dim prefix wins. r9 closed the lever's
    story by A/B'ing the OTHER regime the r8 record named (mid
    thresholds, where banding admits junk and the CS bound passes it
    into the vector ride): at t=0.85 the int8 filter collapsed
    candidates 3.31 → 1.00 per true dup and halved the wall
    (SCALE1000_r09.json). Default: None = threshold-dependent (int8 on
    the measured band 0.8 ≤ t < 0.95 where it beat the CS prefix; CS
    prefix at ≥0.95; bare-id pairs below 0.8 where no prefilter engages
    — each regime keeps its measured winner); the quantization never
    affects output, only which pairs pay the exact rerank.
    """
    if dim is None:
        # Fallback probe (one limit-1 driver round trip); callers that know
        # the embedding width should pass ``dim`` (VERDICT r2 wrong #5).
        dim = len(df.select(F.col(emb_col).alias("e")).first()["e"])
    if adaptive_n is not None:
        # corpus-size-aware banding (see adaptive_lsh_params): overrides
        # the fixed (bands, rows_per_band)
        bands, rows_per_band = adaptive_lsh_params(adaptive_n, threshold)
    g = -(-bands // prefix_group_size) if prefix_group_size > 1 else 1
    # prefix planes (g * prefix_bits of them) are ADDITIONAL hyperplanes
    # appended after the band planes; sign bits layout:
    # [band0..band{b-1} suffix bits | group0..group{g-1} prefix bits]
    n_planes = bands * rows_per_band + (g * prefix_bits if g > 1 else 0)
    planes = np.random.RandomState(seed).standard_normal((n_planes, dim))
    r = rows_per_band

    @F.pandas_udf(ArrayType(LongType()))
    def band_keys(embs: pd.Series) -> pd.Series:
        M = np.array(embs.tolist(), dtype=np.float64)
        bits = ((M @ planes.T) >= 0.0).astype(np.int64)   # n × n_planes
        weights = 1 << np.arange(r, dtype=np.int64)
        out: list[Iterable[int]] = []
        keys = np.stack(
            [bits[:, j * r : (j + 1) * r] @ weights for j in range(bands)],
            axis=1,
        )                                       # n × bands, values < 2^r
        if g > 1:
            base = bands * r
            wp = 1 << np.arange(prefix_bits, dtype=np.int64)
            pfx = np.stack(
                [
                    bits[:, base + gi * prefix_bits
                         : base + (gi + 1) * prefix_bits] @ wp
                    for gi in range(g)
                ],
                axis=1,
            )                                   # n × g, values < 2^prefix_bits
            keys = np.concatenate([pfx, keys], axis=1)
        for row in keys:
            out.append(row.tolist())
        return pd.Series(out)

    if int8_rerank is None:
        # Measured policy, both regimes A/B'd at scale (SCALE1000_r08 +
        # SCALE1000_r09): at TIGHT thresholds (≥0.95) adaptive banding
        # already makes candidates ≈ true pairs, any prefilter is pure
        # overhead and the cheaper 16-dim CS prefix wins (int8 candidate
        # stage 3.5× at t=0.99, shuffle +5.2%). At MID thresholds the CS
        # bound passes junk into the exact-rerank vector ride while the
        # int8 bound (E ≈ 1.3e-4 on unit vectors) rejects it before any
        # vector ships: t=0.85, 100× corpus 400k: candidates 3.31 → 1.00
        # per true dup, wall 0.54×, shuffle −6.4% (r9; 1000× point in
        # SCALE1000_r09.json). BELOW 0.8 the CS prefix is off anyway
        # (prefilter_dims rule below) and candidate pairs ride as bare
        # 16-byte id pairs into the co-partitioned exact rerank — int8
        # would ~9× that ride for an unmeasured benefit, so the default
        # stays off there (that regime belongs to blocked_near_dups).
        # Output is IDENTICAL on every path
        # (test_lsh_int8_rerank_identical_output pins t=0.85 and 0.45);
        # the upper cut sits at 0.95, conservative toward the
        # measured-negative tight regime. A POSITIVE explicit
        # prefilter_dims wins over this policy default: use_pre below
        # requires `not int8_rerank`, so resolving int8_rerank=True here
        # would silently discard a caller's requested CS prefix. An
        # explicit 0 asks for no CS prefix only, so the int8 policy
        # still applies.
        int8_rerank = (not prefilter_dims) and 0.8 <= threshold < 0.95
    if prefilter_dims is None:
        prefilter_dims = dim // 4 if threshold >= 0.8 and dim >= 8 else 0
    use_pre = 0 < prefilter_dims < dim and not int8_rerank

    # repartition-before-persist: every consumer (both band self-join
    # sides, both rerank vector lookups) reads ONE cached, id-partitioned
    # copy — without the persist, column pruning splits the repartition
    # into per-consumer exchanges and the signature UDF runs per branch.
    # The id-hash partitioning propagates through the id→id_a/id_b
    # aliases, so the rerank's vector sides join exchange-free; only the
    # candidate pairs (two longs) move.
    sig = (
        df.select(F.col(id_col).alias("id"), F.col(emb_col).alias("emb"))
        .withColumn("__keys", band_keys(F.col("emb")))
        .withColumn("__nrm", F.sqrt(_dot("emb", "emb")))
    )
    if use_pre:
        rest = f"slice(emb, {prefilter_dims + 1}, {dim - prefilter_dims})"
        sig = sig.withColumn(
            "__pre", F.expr(f"slice(emb, 1, {prefilter_dims})")
        ).withColumn("__rnrm", F.sqrt(_dot(rest, rest)))
    if int8_rerank:
        # same let-binding trick as quantize_embeddings: the max-abs fold
        # runs once per row; codes/scale/L1 are materialized into the
        # persisted signature frame, so every consumer reads the cache
        s_raw = (
            "aggregate(emb, 0D,"
            " (a, x) -> greatest(a, abs(cast(x as double)))) / 127.0D"
        )
        let = (
            f"transform(array(CASE WHEN {s_raw} = 0.0D THEN 1.0D"
            f" ELSE {s_raw} END), s -> struct("
            "s AS scale,"
            " transform(emb,"
            " x -> cast(round(cast(x as double) / s) as tinyint)) AS codes"
            "))[0]"
        )
        sig = sig.withColumn("__qz", F.expr(let)).withColumn(
            "__l1",
            F.expr(
                "aggregate(__qz.codes, 0L,"
                " (acc, c) -> acc + abs(cast(c as bigint)))"
            ),
        )
    sig = sig.repartition(F.col("id")).persist()
    _lsh_cache_register(sig)
    # partition-local band self-join (the 10000× lever named in
    # SCALE1000_r06): materialize the bucket explode ONCE, hash-
    # partitioned on the join key — both self-join sides then read the
    # same cached, already-co-partitioned frame and the join runs
    # without an exchange on either side. Measured at 100× (400k
    # vectors, adaptive 20×21): total shuffle 1252.8 → 635.1 MB for
    # identical output at equal wall — the bucket explode, which
    # dominates shuffle growth at 1000×+ (b rows/vector), now crosses
    # the wire exactly once. (The bucket-LOCAL pair-emission variant —
    # groupBy(band,key) + collect_list + lambda pair explode — was also
    # tried: same 635 MB shuffle but 1.9× wall; the nested lambda
    # evaluation costs more CPU than the join it saves.)
    if g > 1:
        # prefix-shared banding: ship ONE row per (vector, group) —
        # (grp, pfx, suffix array) — through the explode exchange; the
        # per-band expansion runs AFTER the (grp, pfx) repartition and
        # the self-join needs no further exchange (HashPartitioning on
        # (grp, pfx) is a subset of the join key, so the clustered-
        # distribution requirement is already satisfied).
        gs = prefix_group_size
        grouped = sig.select(
            "id",
            F.posexplode(F.slice("__keys", 1, g)).alias("grp", "pfx"),
            F.slice("__keys", g + 1, bands).alias("__bk"),
        ).select(
            "id", "grp", "pfx",
            F.slice(F.col("__bk"), F.col("grp") * gs + 1, gs).alias("__sfx"),
        )
        buckets = grouped.repartition(F.col("grp"), F.col("pfx")).persist()
        _lsh_cache_register(buckets)
        bl = buckets.select(
            "id", "grp", "pfx", F.posexplode("__sfx").alias("bix", "sfx")
        )
        cand = (
            bl.alias("x")
            .join(
                bl.alias("y"),
                on=[
                    F.col("x.grp") == F.col("y.grp"),
                    F.col("x.pfx") == F.col("y.pfx"),
                    F.col("x.bix") == F.col("y.bix"),
                    F.col("x.sfx") == F.col("y.sfx"),
                    F.col("x.id") < F.col("y.id"),
                ],
            )
            .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
            .distinct()
        )
    else:
        buckets = (
            sig.select("id", F.posexplode("__keys").alias("band", "key"))
            .repartition(F.col("band"), F.col("key"))
            .persist()
        )
        _lsh_cache_register(buckets)
        cand = (
            buckets.alias("x")
            .join(
                buckets.alias("y"),
                on=[
                    F.col("x.band") == F.col("y.band"),
                    F.col("x.key") == F.col("y.key"),
                    F.col("x.id") < F.col("y.id"),
                ],
            )
            .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
            .distinct()
        )
    if use_pre:
        # ship only (prefix, rest-norm, norm) with each pair; pairs whose
        # Cauchy–Schwarz bound cannot reach the threshold never move a
        # full vector. The margin matches the final round(·, 4) filter.
        pre_a = sig.select(
            F.col("id").alias("id_a"), F.col("__pre").alias("pa"),
            F.col("__rnrm").alias("ra"), F.col("__nrm").alias("xa"),
        )
        pre_b = sig.select(
            F.col("id").alias("id_b"), F.col("__pre").alias("pb"),
            F.col("__rnrm").alias("rb"), F.col("__nrm").alias("xb"),
        )
        bound = (_dot("pa", "pb") + F.col("ra") * F.col("rb")) / (
            F.col("xa") * F.col("xb")
        )
        cand = (
            cand.join(pre_a, "id_a")
            .join(pre_b, "id_b")
            .filter(bound >= threshold - 1e-4)
            .select("id_a", "id_b")
        )
    if int8_rerank:
        # int8 codes + 3 scalars ride with each candidate pair instead
        # of 16 prefix float64s; the integer code dot is exact and the
        # error bound E (docstring) makes the filter lossless, so only
        # the ~true-pair survivor set pays the full-vector exact rerank.
        qa = sig.select(
            F.col("id").alias("id_a"),
            F.col("__qz.codes").alias("ca"),
            F.col("__qz.scale").alias("sa"),
            F.col("__l1").alias("la"), F.col("__nrm").alias("xa"),
        )
        qb = sig.select(
            F.col("id").alias("id_b"),
            F.col("__qz.codes").alias("cb"),
            F.col("__qz.scale").alias("sb"),
            F.col("__l1").alias("lb"), F.col("__nrm").alias("xb"),
        )
        # literal dim-term product chain, NOT aggregate(zip_with(...)):
        # higher-order functions evaluate INTERPRETED (~3.5x the filter
        # stage in the first 1000x A/B); an explicit expression tree
        # whole-stage-codegens, and the integer dot is order-insensitive
        # so there is no fold-order pin to preserve
        code_dot = F.expr(
            " + ".join(
                f"(cast(element_at(ca, {i}) as bigint)"
                f" * cast(element_at(cb, {i}) as bigint))"
                for i in range(1, dim + 1)
            )
        )
        err = (
            F.col("sa") * F.col("sb")
            * ((F.col("la") + F.col("lb")) / F.lit(2.0) + F.lit(dim / 4.0))
        )
        bound8 = (
            code_dot.cast("double") * F.col("sa") * F.col("sb") + err
        ) / (F.col("xa") * F.col("xb"))
        cand = (
            cand.join(qa, "id_a")
            .join(qb, "id_b")
            .filter(bound8 >= threshold - 1e-4)
            .select("id_a", "id_b")
        )
    if stats_out is not None:
        # instrumentation hook (scale runs): the post-prefilter candidate
        # frame, countable without materializing the rerank
        stats_out["candidates"] = cand
        stats_out["bands"] = bands
        stats_out["rows_per_band"] = rows_per_band
    ea = sig.select(
        F.col("id").alias("id_a"), F.col("emb").alias("ea"),
        F.col("__nrm").alias("na"),
    )
    eb = sig.select(
        F.col("id").alias("id_b"), F.col("emb").alias("eb"),
        F.col("__nrm").alias("nb"),
    )
    scored = (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .withColumn(
            # candidate-proportional rerank — the literal-chain site
            "cosine",
            F.round(
                _dot_chain("ea", "eb") / (F.col("na") * F.col("nb")),
                4,
            ),
        )
        .filter(F.col("cosine") >= threshold)
    )
    return scored.select("id_a", "id_b", "cosine")


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    emb_col: str = "embedding",
) -> DataFrame:
    """Element-wise mean embedding per label: ``(label, centroid)``.

    posexplode → per-(label, pos) avg → re-assemble in position order.
    One shuffle keyed by (label, pos) — high cardinality, skew-free.
    """
    exploded = df.select(
        F.col(label_col), F.posexplode(F.col(emb_col)).alias("pos", "v")
    )
    per_pos = exploded.groupBy(label_col, "pos").agg(
        F.avg(F.col("v").cast("double")).alias("m")
    )
    return (
        per_pos.groupBy(label_col)
        .agg(F.sort_array(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            F.col(label_col),
            F.expr("transform(pm, s -> s.m)").alias("centroid"),
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    nprobe: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """IVF-style ANN: probe the ``nprobe`` nearest coarse cells, rerank
    exactly within them.

    Coarse cells here are the corpus's ``label`` partitions (stand-in for
    k-means cells); centroids are broadcast, so routing each query costs
    nlist dot products and the fine search only scans nprobe cells.
    Returns ``(query_id, vec_id, cosine, rank)`` — approximate: misses
    neighbors outside the probed cells, which is the accuracy/cost knob.
    """
    cents = with_norm(label_centroids(corpus, label_col, emb_col), "centroid")
    cents = cents.withColumnRenamed("norm", "cent_norm")
    q = with_norm(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(emb_col).alias("q_emb")
        ),
        "q_emb",
    ).withColumnRenamed("norm", "q_norm")
    routed = (
        q.crossJoin(F.broadcast(cents))
        .withColumn(
            "cent_cos",
            F.round(
                _dot("q_emb", "centroid") / (F.col("q_norm") * F.col("cent_norm")), 6
            ),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cent_cos").desc(), F.col(label_col).asc()
    )
    probes = (
        routed.withColumn("__r", F.row_number().over(wr))
        .filter(F.col("__r") <= nprobe)
        .select("query_id", "q_emb", "q_norm", label_col)
    )
    c = with_norm(
        corpus.select(F.col(id_col), F.col(label_col), F.col(emb_col).alias("c_emb")),
        "c_emb",
    ).withColumnRenamed("norm", "c_norm")
    scored = (
        c.join(F.broadcast(probes), label_col)
        .filter(F.col("query_id") != F.col(id_col))
        .withColumn(
            "cosine",
            F.round(_dot("q_emb", "c_emb") / (F.col("q_norm") * F.col("c_norm")), 4),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cosine", "rank")
    )


def kmeans_cells(
    df: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    arrow_assign: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic spherical k-means: ``(assignments, centroids)``.

    Lloyd iterations with everything pinned for cross-engine parity:
    seeds are the k lowest-id vectors (cell = rank-1 in id order, NOT
    the id value itself — so a filtered or re-keyed corpus whose ids are
    not dense from 0 still seeds k real centroids; r6 advice), assignment
    is cosine argmax with cell-ascending tie-break, and each centroid
    coordinate is ``round(sum, 9)/count`` — rounding the SUM before the
    divide (the suite's standard determinism pattern) so the oracle's
    different summation order cannot flip a single assignment. On a
    dense-0 id space rank-1 == id, so this is bit-identical to the
    historical ``vid < k`` seeding.

    Scale shape: centroids are k×dim (broadcast); one shuffle per
    iteration for the (cell, pos) recompute; ``localCheckpoint`` bounds
    lineage across iterations (same pattern as connected components).
    Replaces the label-cell stand-in flagged in VERDICT r1.

    ``arrow_assign=True`` switches the n·k cosine argmax from the JVM
    higher-order fold (ZipWith/ArrayAggregate are evaluated INTERPRETED
    inside codegen — ~10 µs per 64-dim pair) to a BLAS-blocked
    ``mapInPandas`` over the same ``_seq_cross_dots`` sequential-dim
    accumulation used by blocked_near_dups — bit-identical doubles (the
    fold order is the same left-to-right over dimensions), first-max
    argmax = the cell-ascending tie-break, ~50× faster per pair. The
    centroid table is collected to the driver per iteration (k rows —
    the standard centroids-fit-in-memory k-means contract; FAISS makes
    the same assumption). Use for adaptive-k corpora where n·k is
    large; the default JVM path keeps small jobs collect-free.
    """
    from opengemini_spark.catalog import parallelize_scan

    # keyed scan spread: the per-iteration n·k cosine argmax is the cost
    # and groupBy("vid") in assign() is satisfied by HashPartitioning(vid)
    # — one keyed exchange of the compact rows, none per aggregate
    # (local-split guard only; no-op at production scale)
    emb = parallelize_scan(
        df.select(F.col(id_col).alias("vid"), F.col(emb_col).alias("e")),
        by="vid",
    )
    # seeds: the k lowest-id vectors, cell = rank-1. orderBy().limit(k)
    # plans as TakeOrderedAndProject (no global sort shuffle); the rank
    # window then runs over k rows only.
    seeds = emb.orderBy("vid").limit(k)
    cents = seeds.select(
        (F.row_number().over(Window.orderBy(F.col("vid").asc())) - 1)
        .cast("int").alias("cell"),
        F.col("e").alias("centroid"),
    )

    def assign_arrow(cts: DataFrame) -> DataFrame:
        # collect k+1 so an invariant violation SURFACES: the centroid
        # frame can never exceed k cells; a silent extra row would
        # otherwise join the argmax and mask the bug (r7 advice).
        rows = cts.orderBy("cell").limit(k + 1).collect()
        if len(rows) > k:
            raise ValueError(
                f"kmeans_cells: centroid frame has >{k} cells "
                f"(got {len(rows)}) — ≤k-cells invariant broken"
            )
        C = np.array([r["centroid"] for r in rows], dtype=np.float64)
        cell_ids = np.array([r["cell"] for r in rows], dtype=np.int64)
        cn = _seq_norms(C)

        def score(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                M = np.array(pdf["e"].tolist(), dtype=np.float64)
                S = _seq_cross_dots(M, C) / np.outer(_seq_norms(M), cn)
                # first-occurrence argmax over cell-ascending columns ==
                # the max_by(struct(cos, -cell)) tie-break
                best = np.argmax(S, axis=1)
                yield pd.DataFrame(
                    {"vid": pdf["vid"], "e": pdf["e"],
                     "cell": cell_ids[best].astype("int32")}
                )

        vid_t = emb.schema["vid"].dataType.simpleString()
        e_t = emb.schema["e"].dataType.simpleString()
        return emb.mapInPandas(score, f"vid {vid_t}, e {e_t}, cell int")

    def assign(cts: DataFrame) -> DataFrame:
        if arrow_assign:
            return assign_arrow(cts)
        # cosine argmax with cell-asc tie-break as a max_by AGGREGATE
        # over struct(cos, -cell): the n·k candidate rows stream through
        # codegen and collapse map-side to one row per vid — no sort of
        # the n·k frame (the r6 window-argmax sorted it, which is what
        # made adaptive-k assignments unaffordable at 100×)
        c = with_norm(cts, "centroid").withColumnRenamed("norm", "cn")
        v = with_norm(emb, "e").withColumnRenamed("norm", "vn")
        scored = v.crossJoin(F.broadcast(c)).select(
            "vid", "e", "cell",
            (_dot("e", "centroid") / (F.col("vn") * F.col("cn"))).alias("cos"),
        )
        return (
            scored.groupBy("vid")
            .agg(
                F.max_by(
                    F.struct("e", "cell"),
                    F.struct(F.col("cos"), (-F.col("cell")).alias("nc")),
                ).alias("best")
            )
            .select(
                "vid",
                F.col("best.e").alias("e"),
                F.col("best.cell").alias("cell"),
            )
        )

    for i in range(n_iter):
        a = assign(cents)
        per_pos = (
            a.select("cell", F.posexplode("e").alias("pos", "v"))
            .groupBy("cell", "pos")
            .agg(
                (F.round(F.sum(F.col("v").cast("double")), 9)
                 / F.count(F.lit(1))).alias("m")
            )
        )
        cents = (
            per_pos.groupBy("cell")
            .agg(F.sort_array(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cell", F.expr("transform(pm, s -> s.m)").alias("centroid"))
        )
        # Truncate lineage every 2nd iteration and at the last one only:
        # an intermediate centroid frame is referenced exactly ONCE by
        # the next iteration's assign, so skipping its eager checkpoint
        # folds two Lloyd rounds into one job without duplicating any
        # distributed work — lineage depth stays ≤ 2 (guide §5). The
        # LAST iteration always checkpoints: the returned frames feed
        # several consumers, which would otherwise each re-execute the
        # whole training chain. Centroids are bit-identical either way.
        if i % 2 == 1 or i == n_iter - 1:
            cents = cents.localCheckpoint()
    final = assign(cents).select(F.col("vid").alias(id_col), "cell")
    return final, cents


def ivf_topk_kmeans(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    nlist: int = 8,
    nprobe: int = 2,
    n_iter: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """IVF ANN over COMPUTED k-means cells (vs the label stand-in of
    ``ivf_topk``): route each query to its ``nprobe`` closest centroids,
    exact cosine rerank within the probed cells only."""
    assign, cents = kmeans_cells(corpus, k=nlist, n_iter=n_iter,
                                 id_col=id_col, emb_col=emb_col)
    cells = corpus.select(F.col(id_col), F.col(emb_col)).join(assign, id_col)

    c_n = with_norm(cents, "centroid").withColumnRenamed("norm", "cent_norm")
    q = with_norm(
        queries.select(F.col(id_col).alias("query_id"),
                       F.col(emb_col).alias("q_emb")),
        "q_emb",
    ).withColumnRenamed("norm", "q_norm")
    routed = q.crossJoin(F.broadcast(c_n)).withColumn(
        "cent_cos",
        _dot("q_emb", "centroid") / (F.col("q_norm") * F.col("cent_norm")),
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cent_cos").desc(), F.col("cell").asc()
    )
    probes = (
        routed.withColumn("__r", F.row_number().over(wr))
        .filter(F.col("__r") <= nprobe)
        .select("query_id", "q_emb", "q_norm", "cell")
    )
    c = with_norm(
        cells.select(F.col(id_col), F.col("cell"), F.col(emb_col).alias("c_emb")),
        "c_emb",
    ).withColumnRenamed("norm", "c_norm")
    scored = (
        c.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col(id_col))
        .withColumn(
            "cosine",
            F.round(_dot("q_emb", "c_emb") / (F.col("q_norm") * F.col("c_norm")), 4),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cosine", "rank")
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/serving prep
    step before shipping an embedding corpus to an ANN index: scale =
    max|x|/127 (1.0 for the all-zero vector), q_i = round(x_i / scale).

    → ``(vec_id, codes array<tinyint>, scale double)`` — ONE row per
    vector with the packed code array (VERDICT r5 wrong #1: the serving
    shape, not the 64×-inflated per-dimension explode; the suite entry
    does the posexplode itself so the driver still hashes individual
    codes).

    Scale: pure JVM expressions (aggregate fold for the max-abs, one
    transform) — no UDF, no shuffle beyond the scan, output bytes/vector
    ≈ dim + 8 instead of dim rows.
    """
    # let-binding via a single-element transform: the max-abs fold runs
    # ONCE per row and `s` enters the codes lambda as a bound variable.
    # Aliasing the fold as a column instead lets CollapseProject inline
    # it into the per-element lambda (and into every downstream exploded
    # row), re-evaluating the 64-op fold per element — measured 4.5×
    # slower on the bench entry.
    s_expr = (
        f"aggregate({emb_col}, 0D,"
        " (a, x) -> greatest(a, abs(cast(x as double)))) / 127.0D"
    )
    let = (
        f"transform(array(CASE WHEN {s_expr} = 0.0D THEN 1.0D"
        f" ELSE {s_expr} END), s -> struct("
        f"s AS scale,"
        f" transform({emb_col},"
        " x -> cast(round(cast(x as double) / s) as tinyint)) AS codes"
        "))[0]"
    )
    return df.select(
        F.col(id_col),
        F.expr(f"{let}.codes").alias("codes"),
        F.expr(f"{let}.scale").alias("scale"),
    )


RP_SEED = 0xD1CE


def random_projection(
    df: DataFrame,
    out_dim: int = 16,
    dim: int = 64,
    seed: int = RP_SEED,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Seeded Gaussian random projection to ``out_dim`` dimensions — the
    Johnson–Lindenstrauss dimensionality reduction an embedding pipeline
    runs before ANN indexing (distances preserved within ~1/√out_dim).

    → ``(vec_id, proj array<double>)`` — ONE row per vector with the
    packed ``out_dim``-wide projection, full precision (VERDICT r5
    wrong #1: the pipeline shape; the suite entry posexplodes and rounds
    for driver hashing). The plane matrix is ``RandomState(seed)``
    Gaussian scaled by 1/√out_dim, embedded as literals in the plan, so
    the projection is reproducible everywhere (and the oracle replays it
    term by term).

    Scale: ``out_dim`` whole-stage-codegen'd aggregate/zip_with folds per
    row — embarrassingly parallel, no shuffle, no UDF. For out_dim×dim
    large enough that literal plans get unwieldy, the pandas-UDF matmul
    used by ``lsh_near_dups``'s signature stage is the alternative.
    """
    planes = (
        np.random.RandomState(seed).standard_normal((out_dim, dim))
        / np.sqrt(out_dim)
    )
    outs = []
    for j in range(out_dim):
        lits = ", ".join(f"CAST({float(v)!r} AS DOUBLE)" for v in planes[j])
        outs.append(
            F.expr(
                f"aggregate(zip_with({emb_col}, array({lits}),"
                " (x, y) -> cast(x as double) * y),"
                " 0D, (acc, v) -> acc + v)"
            )
        )
    return df.select(F.col(id_col), F.array(*outs).alias("proj"))


SEMDEDUP_TARGET_CELL = 40
SEMDEDUP_K_MIN = 8


def adaptive_kmeans_k(n: int, k_min: int = SEMDEDUP_K_MIN) -> int:
    """Corpus-size-aware cluster count — the SemDeDup scale contract
    (growing k; the paper runs 50k clusters for LAION-440M). With FIXED
    k, cells grow O(n/k) and the within-cell quadratic pair stage grows
    O(n²/k) — the 19.0× wall at 10× rows recorded in SCALE_r06.

    The BALANCED choice is ``k = ⌈√n⌉``, not k ∝ n: total work is the
    coarse assignment (n·k comparisons) PLUS the within-cell pair scan
    (n·(n/k) comparisons), minimized where the two terms meet — k = √n,
    giving O(n^1.5) total with ~√n-row cells. k ∝ n (constant cell
    size) would make the pair stage linear but the ASSIGNMENT quadratic
    (n²/cell), which is strictly worse for n > cell². (Same public
    guidance as FAISS's nlist ≈ √n for IVF training.) Mirrors
    :func:`adaptive_lsh_params` (the r6 LSH lever); the SQL oracle
    computes the identical k from ``count(*)`` with the same
    double-precision ``ceil(sqrt(n))``.
    """
    import math

    return max(k_min, math.ceil(math.sqrt(n)))


def semantic_dedup(
    df: DataFrame,
    k: int | None = None,
    n_iter: int = 2,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    adaptive_n: int | None = None,
    k_min: int = SEMDEDUP_K_MIN,
    max_cell_task: int | None = None,
    arrow_assign: bool | None = None,
    split_cell_over: int | None = None,
) -> DataFrame:
    """SemDeDup: cluster-scoped semantic deduplication over embeddings
    (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
    through semantic deduplication", arXiv:2303.09540 — public paper).

    The point of the method is that semantic duplicates are *not*
    near-identical texts (MinHash misses them) but they do land in the
    same embedding-space cluster, so the quadratic pair search can be
    scoped per cluster: k-means first, pairwise cosine only within each
    cell. Deterministic keep rule (cross-engine reproducible): a vector
    is dropped iff some LOWER-ID vector in the same cell has cosine ≥
    ``threshold`` to it — the lowest-id member of every above-threshold
    within-cell neighborhood survives. (The paper keeps the example
    farthest from the centroid; any fixed per-cell rule works — lowest
    id is the one an independent oracle can replay bit-exactly.)

    Returns one row per input vector: ``(id_col, cell int, kept bool)``.

    Scale shape: clustering is the broadcast k-means of
    :func:`kmeans_cells` (centroids k×dim, one shuffle per iteration;
    assignment is a map-side ``max_by`` aggregate — the n·k candidate
    rows stream through codegen without ever sorting); the pair stage
    shuffles each vector once on its cell id and does Σ c_i² dot
    products. The SCALE CONTRACT is adaptive k — IMPLEMENTED here (r6
    verdict #2): when ``k`` is None (the default) it is derived as
    ``max(k_min, ceil(√n))`` from a corpus count (pass ``adaptive_n``
    to skip the count action, same convention as :func:`lsh_near_dups`),
    the balanced point where coarse assignment (n·k) and within-cell
    pair scan (n²/k) meet — O(n^1.5) total instead of the fixed-k
    O(n²/k) recorded as 19.0× wall at 10× rows in SCALE_r06 (see
    :func:`adaptive_kmeans_k` for why k ∝ n would be worse). Residual
    risk is cell-size SKEW (Lloyd cells are not uniform):
    ``max_cell_task`` additionally splits each cell's pair join into
    deterministic id-hash block pairs of ≤ that many vectors per side,
    bounding any single task's memory/compute without changing the pair
    set (every (a,b) pair lands in exactly one block pair) — the same
    output-preserving salting lever as operators/scale.py.
    Block-pairing is the SHIPPED skew mitigation: it bounds any single
    task's memory/compute, but total pair WORK for a cell of size c is
    still c² — pathological for a one-hot-cluster corpus.

    ``split_cell_over`` (opt-in, r7 verdict "what's wrong" #3): cells
    larger than this get ONE level of recursive refinement — their
    members are re-clustered jointly by a second :func:`kmeans_cells`
    pass with k₂ = ⌈√n_hot⌉ (offset cell ids keep the two levels
    disjoint), and the pair scan runs within the refined cells. This
    CHANGES the kept set for hot-cell members (SemDeDup's "within
    cluster" scope now means the refined cluster — the same semantics
    the paper gets by raising k), so the driver-oracled suite
    configuration keeps it OFF; it is the lever for corpora whose mass
    concentrates in one Lloyd cell (seeded by vectors outside the
    blob). One level is deliberate: a mass k-means cannot split at
    level 2 (exactly identical vectors) belongs to exact dedup, not a
    deeper recursion.
    """
    if k is None:
        n = adaptive_n if adaptive_n is not None else df.count()
        k = adaptive_kmeans_k(n, k_min)
        if arrow_assign is None:
            # the interpreted JVM fold is fine below ~2M n·k candidate
            # pairs; beyond that the BLAS-blocked Arrow assignment is
            # the same bits ~50× faster (see kmeans_cells docstring)
            arrow_assign = n * k > 2_000_000
    assign, _ = kmeans_cells(df, k=k, n_iter=n_iter,
                             id_col=id_col, emb_col=emb_col,
                             arrow_assign=bool(arrow_assign))
    if split_cell_over:
        # one-level recursive refinement of hot cells (docstring): the
        # hot set is ≤ k cells (broadcastable); the hot MEMBERS are
        # re-clustered jointly and get offset cell ids
        hot = (
            assign.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("__c"))
            .filter(F.col("__c") > split_cell_over)
            .select("cell")
        )
        hot_assign = assign.join(F.broadcast(hot), "cell")
        hot_members = df.join(
            hot_assign.select(id_col), id_col
        ).select(id_col, emb_col)
        n_hot = hot_members.count()
        if n_hot:
            k2 = adaptive_kmeans_k(n_hot, k_min)
            sub_assign, _ = kmeans_cells(
                hot_members, k=k2, n_iter=n_iter,
                id_col=id_col, emb_col=emb_col,
                arrow_assign=bool(arrow_assign) or n_hot * k2 > 2_000_000,
            )
            cold = assign.join(F.broadcast(hot), "cell", "left_anti")
            assign = cold.unionByName(
                sub_assign.select(
                    id_col,
                    (F.col("cell") + F.lit(int(k))).cast("int").alias("cell"),
                )
            )
    # Materialize the assignment ONCE (narrow: vid + cell, no embeddings).
    # The pair scan's two sides, the cell-size census, and the final keep
    # join all derive from `cells`; without this barrier each consumer
    # re-executes the k-means final-assign crossJoin + max_by aggregate
    # (the O(n·k) compute) — the r9 "after" plan carried FIVE copies of
    # that subtree and AQE exchange reuse does not fire across them
    # (per-consumer column pruning breaks subtree equality). Same
    # guide §3.3/§5 pattern as the crawl e2e checkpoints; within-run
    # only — every invocation recomputes from the parquet inputs.
    assign = assign.localCheckpoint()
    cells = (
        df.select(F.col(id_col).alias("vid"), F.col(emb_col).alias("e"))
        .join(assign.withColumnRenamed(id_col, "vid"), "vid")
    )
    v = with_norm(cells, "e")
    if max_cell_task:
        # Full block-pair decomposition of the within-cell self-join:
        # each vector gets a deterministic block id (vid mod nb, nb =
        # ceil(cell_size / max_cell_task)); side A is replicated across
        # every partner block j, side B across every partner block i,
        # and the join key is (cell, i, j) — so every unordered pair
        # (a, b) is evaluated in exactly ONE (block_a, block_b) task of
        # ≤ max_cell_task² comparisons. Output identical; a hot cell is
        # spread over nb² tasks instead of sitting in one.
        # census straight off the checkpointed assignment — same counts as
        # cells (inner join on the full vid set) without re-reading parquet
        sizes = assign.groupBy("cell").agg(F.count(F.lit(1)).alias("__c"))
        vb = v.join(F.broadcast(sizes), "cell").withColumn(
            "__nb",
            F.ceil(F.col("__c") / F.lit(max_cell_task)).cast("int"),
        ).withColumn("__blk", F.pmod(F.col("vid"), F.col("__nb")).cast("int"))
        a = vb.select(
            F.col("vid").alias("id_a"), F.col("cell"),
            F.col("e").alias("ea"), F.col("norm").alias("na"),
            F.col("__blk").alias("__i"),
            F.explode(F.expr("sequence(0, __nb - 1)")).alias("__j"),
        )
        b = vb.select(
            F.col("vid").alias("id_b"), F.col("cell"),
            F.col("e").alias("eb"), F.col("norm").alias("nb"),
            F.explode(F.expr("sequence(0, __nb - 1)")).alias("__i"),
            F.col("__blk").alias("__j"),
        )
        join_keys = ["cell", "__i", "__j"]
    else:
        a = v.select(F.col("vid").alias("id_a"), F.col("cell"),
                     F.col("e").alias("ea"), F.col("norm").alias("na"))
        b = v.select(F.col("vid").alias("id_b"), F.col("cell"),
                     F.col("e").alias("eb"), F.col("norm").alias("nb"))
        join_keys = ["cell"]
    dropped = (
        a.join(b, join_keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            # bulk pair scan (Σ c_i² rows) — the literal-chain site
            "cos",
            F.round(_dot_chain("ea", "eb") / (F.col("na") * F.col("nb")), 4),
        )
        .filter(F.col("cos") >= threshold)
        .select(F.col("id_b").alias("vid"))
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return (
        cells.join(dropped, "vid", "left")
        .select(
            F.col("vid").alias(id_col),
            F.col("cell"),
            F.coalesce(~F.col("__dropped"), F.lit(True)).alias("kept"),
        )
    )


# ---------------------------------------------------------------------------
# IVF-PQ: product-quantized ANN (the billion-scale memory-bound regime)
# ---------------------------------------------------------------------------

PQ_M = 8        # subspaces
PQ_DSUB = 8     # dims per subspace (M * DSUB = 64)
PQ_KSUB = 16    # centroids per subspace codebook (4 bits/code; raised from
                # 4 in r7 — the recall@k measurement showed 4-centroid ADC
                # too noisy to rank true neighbors into a 32-deep shortlist:
                # recall@10 at nprobe=4/rerank=32 was 0.29, now 0.54 on the
                # random-vector fixture whose IVF ceiling is 0.78)
PQ_ITER = 1     # Lloyd iterations per codebook


def _l2sq(a: str, b: str) -> F.Column:
    """Index-ordered squared-L2 fold of two array columns."""
    return F.expr(
        f"aggregate(zip_with({a}, {b},"
        " (x, y) -> (cast(x as double) - cast(y as double))"
        " * (cast(x as double) - cast(y as double))),"
        " 0D, (acc, v) -> acc + v)"
    )


def pq_codebooks(
    corpus: DataFrame,
    m: int = PQ_M,
    dsub: int = PQ_DSUB,
    ksub: int = PQ_KSUB,
    n_iter: int = PQ_ITER,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Product-quantization codebooks: an L2 Lloyd k-means per subspace,
    ALL subspaces trained in one frame (subspace id is a column, not a
    loop — one shuffle per iteration covers every codebook).

    Deterministic for cross-engine replay, same pins as
    :func:`kmeans_cells`: seeds are the ``ksub`` lowest-id vectors'
    subvectors with code = rank-1 in id order (not the id value — a
    filtered / non-dense-id corpus still seeds ksub real codebook
    entries; r6 advice), assignment is squared-L2 argmin with
    code-ascending tie-break (the fold order is fixed, so the doubles
    are bit-identical in any engine), and centroid coordinates are
    ``round(sum, 9)/count``.

    Returns ``(codes, codebooks)``: ``codes`` = ``(vid, m, code)`` — the
    M-byte-per-vector compressed representation; ``codebooks`` =
    ``(m, code, cent array<double>)`` (m·ksub rows — always broadcast).

    Scale: the recompute aggregate has m·ksub·dsub keys (256 here) —
    map-side combine collapses it regardless of corpus size; the
    assignment is a broadcast join + a row_number over (vid, m) groups
    of ksub rows. ``localCheckpoint`` bounds lineage across iterations.
    """
    from opengemini_spark.catalog import parallelize_scan

    # keyed scan spread: assign()'s groupBy(vid, m) is satisfied by
    # HashPartitioning(vid) (subset of the clustering keys), so the
    # explode → broadcast-join → L2 argmin chain pipelines after one
    # keyed exchange of the compact rows
    subs = parallelize_scan(
        corpus.select(F.col(id_col).alias("vid"), F.col(emb_col)), by="vid"
    ).select(
        "vid",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {m - 1}),"
                f" i -> slice({emb_col}, i * {dsub} + 1, {dsub}))"
            )
        ).alias("m", "sub"),
    )
    seed_ids = (
        corpus.select(F.col(id_col).alias("vid"))
        .orderBy("vid").limit(ksub)
        .select(
            "vid",
            (F.row_number().over(Window.orderBy(F.col("vid").asc())) - 1)
            .cast("int").alias("code"),
        )
    )
    cents = subs.join(F.broadcast(seed_ids), "vid").select(
        "m",
        "code",
        F.expr("transform(sub, x -> cast(x as double))").alias("cent"),
    )

    def assign(cts: DataFrame) -> DataFrame:
        # L2 argmin with code-asc tie-break as a min_by aggregate over
        # struct(d2, code) — same no-sort shape as kmeans_cells.assign
        scored = subs.join(F.broadcast(cts), "m").withColumn(
            "d2", _l2sq("sub", "cent")
        )
        return (
            scored.groupBy("vid", "m")
            .agg(
                F.min_by(
                    F.struct("sub", "code"), F.struct("d2", "code")
                ).alias("best")
            )
            .select(
                "vid", "m",
                F.col("best.sub").alias("sub"),
                F.col("best.code").alias("code"),
            )
        )

    for i in range(n_iter):
        a = assign(cents)
        per_pos = (
            a.select("m", "code", F.posexplode("sub").alias("pos", "v"))
            .groupBy("m", "code", "pos")
            .agg(
                (F.round(F.sum(F.col("v").cast("double")), 9)
                 / F.count(F.lit(1))).alias("c")
            )
        )
        cents = (
            per_pos.groupBy("m", "code")
            .agg(F.sort_array(F.collect_list(F.struct("pos", "c"))).alias("pc"))
            .select(
                "m", "code", F.expr("transform(pc, s -> s.c)").alias("cent")
            )
        )
        # checkpoint cadence: every 2nd iteration + the last (same
        # rationale as kmeans_cells — the intermediate codebook is
        # referenced once, so folding two Lloyd rounds into one job
        # duplicates nothing; codebooks bit-identical)
        if i % 2 == 1 or i == n_iter - 1:
            cents = cents.localCheckpoint()
    codes = assign(cents).select("vid", "m", "code")
    return codes, cents


def ivfpq_build(
    corpus: DataFrame,
    nlist: int = 8,
    coarse_iter: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build the IVF-PQ serving index ONCE: ``(index, books, cents)``.

    ``index`` is the single (vid, cell, m, code) frame — the vid-keyed
    join of PQ codes with coarse-cell assignments, the one
    corpus-shuffling step of the query path (314 MB at the 100x point,
    SCALE100_r06). Amortizing it here means each :func:`ivfpq_topk`
    call over the prebuilt index does only broadcast joins + a
    candidate-proportional aggregate — the classic index-build /
    query-serve split. Persist (or write bucketed by cell) in a real
    deployment; callers own the lifecycle.
    """
    from concurrent.futures import ThreadPoolExecutor

    # Overlap the two independent trainers (guide §2.6): the coarse
    # k-means and the PQ codebooks each run a chain of small jobs with
    # eager localCheckpoint barriers, so one trainer's tail back-fills
    # the cores the other's barrier leaves idle. Results are the same
    # DataFrames either way — only the job schedule changes.
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_km = pool.submit(
            kmeans_cells, corpus, k=nlist, n_iter=coarse_iter,
            id_col=id_col, emb_col=emb_col,
        )
        f_pq = pool.submit(pq_codebooks, corpus, id_col=id_col, emb_col=emb_col)
        assign, cents = f_km.result()
        codes, books = f_pq.result()
    index = codes.join(assign.withColumnRenamed(id_col, "vid"), "vid")
    return index, books, cents


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    nlist: int = 8,
    nprobe: int = 2,
    coarse_iter: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    index: DataFrame | None = None,
    books: DataFrame | None = None,
    cents: DataFrame | None = None,
    rerank: int = 0,
) -> DataFrame:
    """IVF-PQ approximate nearest neighbors — the memory-bound ANN
    regime: candidates are scored from their ``PQ_M``-byte PQ codes via
    asymmetric distance computation (ADC), never touching the original
    vectors, so the scan side of a 100 TB index holds M bytes + 1 cell
    id per vector.

    Routing reuses the cosine IVF (:func:`kmeans_cells` + nprobe probe
    cells); scoring approximates cosine(q, v) ≈ (Σ_m q_m·c_{m,code}) /
    (‖q‖ · sqrt(Σ_m ‖c_{m,code}‖²)) with the per-(query, subspace, code)
    partials computed ONCE into a broadcastable lookup table (queries ×
    m × ksub rows). Both Σ_m folds are fixed-order literal chains over
    pivoted subspace columns (no engine-ordered float SUM), the score is
    rounded to 6 dp before ranking, ties break id-ascending.

    → ``(query_id, vec_id, ascore, rank)``, rank ≤ k per query.

    Pass a prebuilt ``(index, books, cents)`` from :func:`ivfpq_build`
    to amortize index construction across query batches (the serve
    path then runs only broadcast joins + a candidate-proportional
    aggregate); with the defaults the index is built inline.

    ``rerank=R > 0`` adds the standard production second stage: the ADC
    scores only build a per-query shortlist of R candidates, which are
    then re-scored with EXACT cosine against their original vectors (an
    id-keyed join fetching R·queries embeddings — shortlist-sized, not
    corpus-sized) and the top-k comes from the exact scores (column
    ``cosine``, 4 dp like :func:`cosine_topk`). ADC recall errors beyond
    the shortlist boundary vanish; the scan side still never touches
    raw vectors.
    """
    m = PQ_M
    if index is None or books is None or cents is None:
        index, books, cents = ivfpq_build(
            corpus, nlist=nlist, coarse_iter=coarse_iter,
            id_col=id_col, emb_col=emb_col,
        )
    c_n = with_norm(cents, "centroid").withColumnRenamed("norm", "cent_norm")
    q = with_norm(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(emb_col).alias("q_emb")
        ),
        "q_emb",
    ).withColumnRenamed("norm", "q_norm")
    routed = q.crossJoin(F.broadcast(c_n)).withColumn(
        "cent_cos",
        _dot("q_emb", "centroid") / (F.col("q_norm") * F.col("cent_norm")),
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cent_cos").desc(), F.col("cell").asc()
    )
    probes = (
        routed.withColumn("__r", F.row_number().over(wr))
        .filter(F.col("__r") <= nprobe)
        .select("query_id", "q_emb", "q_norm", "cell")
    )

    # ADC lookup table: (query_id, m, code) -> partial dot + cent norm²
    q_subs = q.select(
        "query_id", "q_norm",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {m - 1}),"
                f" i -> slice(q_emb, i * {PQ_DSUB} + 1, {PQ_DSUB}))"
            )
        ).alias("m", "qsub"),
    )
    lut = q_subs.join(F.broadcast(books), "m").select(
        "query_id", "q_norm", "m", "code",
        _dot("qsub", "cent").alias("pdot"),
        _dot("cent", "cent").alias("csq"),
    )

    # candidates: codes of vectors in the probed cells, one row per
    # (query, vid, m); the per-m partials pivot into fixed columns so
    # the Σ_m runs as a literal left-to-right chain
    cand = index.join(
        F.broadcast(probes.select("query_id", "cell")), "cell"
    ).filter(F.col("query_id") != F.col("vid"))
    joined = cand.join(F.broadcast(lut), ["query_id", "m", "code"])
    per_m = [
        F.max(F.when(F.col("m") == i, F.col(c))).alias(f"__{c}{i}")
        for i in range(m)
        for c in ("pdot", "csq")
    ]
    agg = joined.groupBy("query_id", "vid").agg(
        F.max("q_norm").alias("q_norm"), *per_m
    )
    adot = F.lit(0.0)
    asq = F.lit(0.0)
    for i in range(m):
        adot = adot + F.col(f"__pdot{i}")
        asq = asq + F.col(f"__csq{i}")
    scored = agg.select(
        "query_id",
        F.col("vid").alias(id_col),
        F.round(adot / (F.col("q_norm") * F.sqrt(asq)), 6).alias("ascore"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("ascore").desc(), F.col(id_col).asc()
    )
    if not rerank:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", id_col, "ascore", "rank")
        )
    shortlist = (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= rerank)
        .select("query_id", id_col)
    )
    c = with_norm(
        corpus.select(F.col(id_col), F.col(emb_col).alias("c_emb")), "c_emb"
    ).withColumnRenamed("norm", "c_norm")
    exact = (
        shortlist.join(c, id_col)
        .join(
            F.broadcast(q.select("query_id", "q_emb", "q_norm")), "query_id"
        )
        .withColumn(
            "cosine",
            F.round(
                _dot("q_emb", "c_emb") / (F.col("q_norm") * F.col("c_norm")), 4
            ),
        )
    )
    we = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(we))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cosine", "rank")
    )
