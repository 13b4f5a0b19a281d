"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

All are shuffle-conscious DataFrame compositions:

- exact:   one hash-aggregate (map-side partial combine, no row movement
           beyond the md5-key shuffle).
- minhash: one explode → one aggregate (16 mins in a single pass) → band
           buckets on (band, key) — pairs form only among docs that share
           an LSH bucket, never the n² pair space.
- simhash: one explode → 32 conditional sums in one aggregate → byte-band
           buckets (pigeonhole: hamming ≤ 3 on 4 bands ⇒ ≥ 1 equal band).
- ngram:   intersection join on rare k-word shingles (sparse by
           construction for k ≥ 4).

At 100 TB the explode/aggregate stages are embarrassingly parallel; the
only shuffles are keyed by shingle-hash / LSH-bucket, which are
high-cardinality and therefore skew-free. Candidate verification joins are
proportional to the number of colliding pairs, not documents².
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from opengemini_spark.catalog import parallelize_scan
from opengemini_spark.datapipe.hashing import (
    h60,
    shingles_expr,
    tokens_expr,
)

# MinHash configuration — shared with the oracle SQL in suite_datapipe.py.
NUM_HASHES = 16
NUM_BANDS = 4
ROWS_PER_BAND = NUM_HASHES // NUM_BANDS

# Carter-Wegman hash family: h_i(x) = (A_i·(h60(x) mod P) + B_i) mod P.
# One md5 per shingle feeds all NUM_HASHES functions (16× less hashing than
# seeded-md5 per function — this stage dominated the dedup benchmark).
# P = 2^31 − 1 keeps products < 2^62 (int64-safe in Spark AND DuckDB).
MINHASH_P = 2_147_483_647


def _lcg(seed: int):
    while True:
        seed = (seed * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        yield seed


def _gen_ab(n: int) -> list[tuple[int, int]]:
    g = _lcg(42)
    return [(next(g) % (MINHASH_P - 1) + 1, next(g) % MINHASH_P) for _ in range(n)]


MINHASH_AB = _gen_ab(NUM_HASHES)
SHINGLE_K = 2          # word bigrams for minhash
NGRAM_K = 4            # rarer 4-word shingles for the direct-join variant
SIMHASH_BITS = 32
SIMHASH_BANDS = 4
SIMHASH_MAX_HAMMING = 3


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: one representative (min id) per distinct content hash.

    Returns ``(doc_id, n_copies)``.
    """
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("__h"))
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(id_col, "n_copies")
    )


def doc_shingles_raw(
    df: DataFrame, k: int, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Hashed k-word shingles per document WITH duplicates: ``(doc_id, sh)``.

    Shingles are reduced to their 60-bit hash map-side — downstream
    exchanges and joins move (long, long) rows instead of ~50-byte strings.
    Set semantics over the hashes equal set semantics over the shingles up
    to 2⁻⁶⁰ collisions (and the oracle hashes identically, so even a
    collision matches). No shuffle happens here.
    """
    return (
        # keyed by id: the signature groupBy(id) / per-doc distinct that
        # every consumer runs next is satisfied by HashPartitioning(id),
        # so the explode→hash→aggregate chain pipelines with no further
        # exchange (local-split guard only — no-op at production scale)
        parallelize_scan(df.select(F.col(id_col), F.col(text_col)), by=id_col)
        .select(F.col(id_col), tokens_expr(text_col).alias("__toks"))
        .select(id_col, F.explode(F.expr(shingles_expr("__toks", k))).alias("__s"))
        .select(id_col, h60(F.col("__s")).alias("sh"))
    )


def doc_shingles(
    df: DataFrame, k: int, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct hashed k-word shingles per document: ``(doc_id, sh)``."""
    return doc_shingles_raw(df, k, text_col, id_col).distinct()


def minhash_signatures(shingles: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """MinHash signature: NUM_HASHES columns ``mh0..mhN`` per doc.

    The Carter-Wegman affine family over the already-hashed shingles —
    a single aggregate pass computes all NUM_HASHES minima, no md5 here.
    """
    based = shingles.withColumn("__base", F.col("sh") % MINHASH_P)
    aggs = [
        F.min((F.lit(a) * F.col("__base") + F.lit(b)) % MINHASH_P).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_AB)
    ]
    return based.groupBy(id_col).agg(*aggs)




def lsh_band_keys(sig: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Explode a signature into ``(doc_id, band, key)`` LSH bucket rows."""
    stack_args = []
    for b in range(NUM_BANDS):
        cols = [f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
        stack_args.append(f"{b}, concat_ws('-', {', '.join(cols)})")
    expr = f"stack({NUM_BANDS}, {', '.join(stack_args)}) as (band, key)"
    return sig.select(id_col, F.expr(expr))


def _bucket_pairs(rows: DataFrame, keys: list[str], item: Column) -> DataFrame:
    """Distinct ordered item pairs ``(a, b)`` that share a bucket of ``keys``.

    ONE groupBy exchange collects each bucket's items; buckets of ≥ 2 items
    double-explode into their pairs, kept once with a < b. An item is the
    id itself or a struct whose first field is the id — struct order is
    field order, and an id occurs once per bucket, so a < b orders the ids.
    A hot bucket is one aggregation task holding its item list, and the
    double explode streams its m² pairs: task memory is O(bucket), not
    O(bucket²).
    """
    buckets = (
        rows.groupBy(*keys)
        .agg(F.collect_list(item).alias("__xs"))
        .filter(F.size("__xs") >= 2)
    )
    return (
        buckets.select(F.explode("__xs").alias("a"), "__xs")
        .select("a", F.explode("__xs").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )


def candidate_pairs(bands: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Distinct id pairs that collide in ≥ 1 LSH band: ``(id_a, id_b)``.

    Buckets form with one groupBy on (band, key), so each band row
    shuffles once and the signature pipeline upstream executes once. A
    band self-join would move the band rows twice, and when the planner
    broadcasts one leg, the whole scan→shingle→signature chain executes
    again for it, because a BroadcastExchange cannot reuse the other
    leg's shuffle stage.
    """
    return _bucket_pairs(bands, ["band", "key"], F.col(id_col)).select(
        F.col("a").alias("id_a"), F.col("b").alias("id_b")
    )


def jaccard_verify(
    pairs: DataFrame, shingles: DataFrame, threshold: float, id_col: str = "doc_id"
) -> DataFrame:
    """Exact Jaccard over shingle sets for candidate pairs only.

    Returns ``(id_a, id_b, jaccard)`` with jaccard ≥ threshold, rounded 4dp.
    """
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    sa = shingles.select(F.col(id_col).alias("id_a"), "sh")
    sb = shingles.select(F.col(id_col).alias("id_b"), "sh")
    inter = (
        pairs.join(sa, "id_a")
        .join(sb, ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("c") / (F.col("na") + F.col("nb") - F.col("c")), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_dedup(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Full MinHash→LSH→verify near-dup pipeline.

    Returns verified near-dup pairs ``(id_a, id_b, jaccard ≥ threshold)``.
    """
    # signature from the raw (non-distinct) explode: min() is duplicate-
    # insensitive, so the groupBy partial-aggregates map-side and the only
    # shuffle is 1 row/doc × 16 columns — the full shingle set never moves.
    # (An all-JVM-lambda variant — per-doc shingle-hash arrays folded with
    # aggregate()/transform() — was tried and is ~5× SLOWER: higher-order
    # functions evaluate interpreted, while explode + hash-agg min is
    # whole-stage-codegen'd end to end.)
    raw = doc_shingles_raw(df, SHINGLE_K, text_col, id_col)
    sig = minhash_signatures(raw, id_col)
    # persist: the candidate set feeds both the verify join and the
    # candidate-doc semi-join. Size is candidates-proportional (tiny at
    # any corpus scale).
    cand = candidate_pairs(lsh_band_keys(sig, id_col), id_col).persist()
    return _shingle_jaccard_verify(df, cand, threshold, text_col, id_col)


def _shingle_jaccard_verify(
    df: DataFrame,
    cand: DataFrame,
    threshold: float,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Exact SHINGLE_K-shingle Jaccard of candidate pairs ``(id_a, id_b)``
    → ``(id_a, id_b, jaccard ≥ threshold)``, rounded 4dp.

    Only candidate documents are re-shingled: the left-semi join dedups
    its probe side itself, so the (id_a ∪ id_b) union needs no distinct.
    Each doc's distinct shingle set becomes ONE array row, and pairs verify
    with array_intersect — two broadcast-able joins and a single exchange
    (the collect_set agg) instead of an exploded 3-way join + groupBy + two
    size joins (6 exchanges, see :func:`jaccard_verify`).
    """
    cand_docs = cand.select(F.col("id_a").alias(id_col)).union(
        cand.select(F.col("id_b").alias(id_col))
    )
    arrays = (
        doc_shingles_raw(
            df.join(F.broadcast(cand_docs), id_col, "left_semi"),
            SHINGLE_K, text_col, id_col,
        )
        .groupBy(id_col)
        .agg(F.collect_set("sh").alias("__shs"))
        # both verify legs (a and b below) broadcast this frame, and two
        # BroadcastExchange builds cannot share a shuffle stage — without
        # a barrier the candidate re-shingle executes twice.
        # localCheckpoint beats persist here (1.43 vs 1.69 s median; the
        # two broadcast builds race the lazy cache and both compute).
        # Candidates-proportional, so tiny at any scale; within-run only —
        # recomputed from parquet per call.
        .localCheckpoint(eager=True)
    )
    a = arrays.select(
        F.col(id_col).alias("id_a"), F.col("__shs").alias("__sa"),
        F.size("__shs").alias("__na"),
    )
    b = arrays.select(
        F.col(id_col).alias("id_b"), F.col("__shs").alias("__sb"),
        F.size("__shs").alias("__nb"),
    )
    c = F.size(F.array_intersect(F.col("__sa"), F.col("__sb")))
    return (
        cand.join(a, "id_a").join(b, "id_b")
        .withColumn(
            "jaccard", F.round(c / (F.col("__na") + F.col("__nb") - c), 4)
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_dedup(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """n-gram Jaccard dedup via direct shingle-intersection join.

    Uses NGRAM_K-word shingles — long shingles are rare, so the
    intersection join on the shingle key stays sparse (no LSH needed).
    """
    shingles = doc_shingles(df, NGRAM_K, text_col, id_col).persist()
    sa = shingles.select(F.col(id_col).alias("id_a"), "sh")
    sb = shingles.select(F.col(id_col).alias("id_b"), "sh")
    pairs = (
        sa.join(sb, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return jaccard_verify(pairs, shingles, threshold, id_col)


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SimHash fingerprint (SIMHASH_BITS bits) per document.

    Bit i is set iff the token-frequency-weighted ±1 vote of hash-bit i is
    ≥ 0. One explode + one aggregate with 32 conditional sums.
    """
    toks = parallelize_scan(
        df.select(F.col(id_col), F.col(text_col)), by=id_col
    ).select(
        F.col(id_col), F.explode(tokens_expr(text_col)).alias("tok")
    ).withColumn("h", h60(F.col("tok")))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(SIMHASH_BITS)
    ]
    agg = toks.groupBy(id_col).agg(*votes)
    sim = None
    for i in range(SIMHASH_BITS):
        bit = F.when(F.col(f"s{i}") >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        sim = bit if sim is None else sim + bit
    return agg.select(F.col(id_col), sim.cast("long").alias("simhash"))


def hamming_near_dups(
    hashes: DataFrame,
    hash_col: str,
    band_bits: int,
    max_hamming: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Pairs of ids whose integer hashes lie within ``max_hamming`` bits:
    ``(id_a, id_b, hamming int)`` with id_a < id_b.

    The hash splits into SIMHASH_BANDS bands of ``band_bits`` bits (band b
    is bits [b·band_bits, (b+1)·band_bits)); docs collide in a
    (band, value) bucket, and only colliding pairs pay the exact popcount.
    The hash frame is read once — one groupBy, no self-join.

    Exactness: when the bands cover every hash bit, any pair within
    hamming 3 agrees on at least one whole band (pigeonhole over 4 bands),
    so the result is exact for ``max_hamming ≤ 3``. Above that it returns
    only the band-sharing pairs within ``max_hamming`` — the set the
    ``dedup_simhash`` oracle computes.

    Hot buckets: one (band, value) bucket is one aggregation task holding
    its (id, hash) list, and its pairs stream out of the double explode.
    A degenerate corpus (e.g. constant images) collapses into one bucket.
    """
    mask = (1 << band_bits) - 1
    stack = ", ".join(
        f"{b}, (`{hash_col}` >> {b * band_bits}) & {mask}"
        for b in range(SIMHASH_BANDS)
    )
    bands = hashes.select(
        F.struct(F.col(id_col).alias("i"), F.col(hash_col).alias("h")).alias(
            "__x"
        ),
        F.expr(f"stack({SIMHASH_BANDS}, {stack}) as (band, val)"),
    )
    return (
        _bucket_pairs(bands, ["band", "val"], F.col("__x"))
        .select(
            F.col("a.i").alias("id_a"), F.col("b.i").alias("id_b"),
            F.bit_count(F.col("a.h").bitwiseXOR(F.col("b.h"))).alias(
                "hamming"
            ),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_near_dups(
    df: DataFrame,
    max_hamming: int = SIMHASH_MAX_HAMMING,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash near-dup pairs ``(id_a, id_b, hamming bigint)`` with
    hamming(simhash) ≤ max_hamming.

    :func:`hamming_near_dups` over four 8-bit bands of the 32-bit
    fingerprint: exact up to hamming 3, band-sharing pairs above.
    """
    return hamming_near_dups(
        simhash(df, text_col, id_col), "simhash", 8, max_hamming, id_col
    ).withColumn("hamming", F.col("hamming").cast("long"))


def span_dedup(
    df: DataFrame,
    k: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span-level exact deduplication: remove every repeated k-token
    span from the corpus except its first occurrence.

    The operator from "Deduplicating Training Data Makes Language
    Models Better" (Lee et al. 2022, arXiv:2107.06499 — public paper):
    doc-level dedup misses boilerplate and quotations that repeat
    INSIDE otherwise-unique documents, so the dedup unit is the
    repeated token span itself. Lee et al. find ≥50-token exact
    substrings with a suffix array; the distributed re-expression is
    shingle-granularity — every k-token window that occurs more than
    once (across docs or within one) is removed at all but its first
    occurrence, where "first" = smallest (doc_id, position).
    Overlapping repeated spans union their covered token ranges, so a
    long repeated passage disappears wholesale (its windows chain).

    Returns one row per input document:
    ``(id_col, clean_text string, n_removed bigint)`` — ``clean_text``
    is the surviving tokens re-joined in order (token-normalized space,
    like the reference pipelines dedup in tokenizer space).

    Scale shape: the span census is one groupBy on the 60-bit shingle
    hash (~n_tokens rows of (long, long) — same shuffle family as the
    contamination check); covered-position explode is k× the duplicate
    occurrences only; the rebuild shuffles each token once on doc_id.
    All JVM expressions, no UDF. Hash keys are uniform, so no skew
    salting is needed; at 100 TB the census shuffle dominates and
    partitions by hash evenly.
    """
    # keyed by id (r9): the covered-position distinct on (id, pos), the
    # anti-join on (id, pos), the rebuild groupBy(id) and the final size
    # join are ALL satisfied by HashPartitioning(id), so only the span
    # census pays its own (unavoidable, uniform) sh-keyed shuffle
    toks = (
        parallelize_scan(df.select(F.col(id_col), F.col(text_col)), by=id_col)
        .select(F.col(id_col), tokens_expr(text_col).alias("__toks"))
    )
    occ = toks.select(
        id_col,
        F.posexplode(F.expr(shingles_expr("__toks", k))).alias("j", "__s"),
    ).select(id_col, "j", h60(F.col("__s")).alias("sh"))

    firsts = (
        occ.groupBy("sh")
        .agg(
            F.min(F.struct(F.col(id_col), F.col("j"))).alias("__first"),
            F.count(F.lit(1)).alias("__cnt"),
        )
        .filter(F.col("__cnt") >= 2)
    )
    dup_occ = occ.join(firsts, "sh").filter(
        ~(
            (F.col(id_col) == F.col(f"__first.{id_col}"))
            & (F.col("j") == F.col("__first.j"))
        )
    )
    covered = (
        dup_occ.select(
            id_col,
            F.explode(F.sequence(F.col("j"), F.col("j") + (k - 1))).alias(
                "pos"
            ),
        )
        .distinct()
    )
    tokpos = toks.select(
        id_col, F.posexplode("__toks").alias("pos", "tok")
    )
    kept = tokpos.join(covered, [id_col, "pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.expr(
                "transform(sort_array(collect_list(struct(pos, tok))),"
                " s -> s.tok)"
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("__n_kept"),
    )
    return (
        toks.select(id_col, F.size("__toks").alias("__n_tok"))
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            (F.col("__n_tok") - F.coalesce(F.col("__n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )


PARA_SEP = "\n\n"


def paragraph_dedup(
    df: DataFrame,
    max_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Paragraph-level boilerplate removal: drop every paragraph that
    occurs in more than ``max_docs`` distinct documents, from ALL of
    them.

    The RefinedWeb / CCNet line-dedup rule (Penedo et al. 2023,
    arXiv:2306.01116; Wenzek et al. 2020, arXiv:1911.00359 — public
    papers): repeated paragraphs across a crawl are navigation chrome,
    cookie banners and share buttons, not content, so unlike span-level
    dedup (first occurrence kept, see :func:`span_dedup`) the repeated
    unit is removed everywhere. The structural unit is the
    ``\\n\\n``-separated paragraph.

    Returns one row per input document:
    ``(id_col, clean_text, n_paras, n_removed)`` — surviving paragraphs
    re-joined in document order.

    Scale shape: the census is ONE groupBy on the 60-bit paragraph hash
    with a distinct-doc count; the rebuild shuffles each paragraph once
    on doc_id. All JVM expressions, no UDF; only ``text`` + id are
    scanned. Skew-safe by plan construction (verified via
    executedPlan): Catalyst rewrites countDistinct as a two-phase
    distinct expansion — the first exchange partitions on
    ``(ph, doc_id)``, so a boilerplate paragraph shared by millions of
    docs never concentrates on one reducer; the per-hash count then
    aggregates partial counts only, and the tiny census broadcasts back
    to the paragraph frame (100×: 5.3× wall, SCALE100_r08).
    """
    # keyed by id (r9): the census broadcasts back (tiny), so with
    # HashPartitioning(id) on the paragraph frame the final groupBy(id)
    # rebuild needs no exchange of its own
    paras = (
        parallelize_scan(df.select(F.col(id_col), F.col(text_col)), by=id_col)
        .select(
            id_col,
            F.posexplode(F.split(F.col(text_col), PARA_SEP)).alias(
                "pos", "para"
            ),
        )
        .withColumn("ph", h60(F.col("para")))
    )
    census = paras.groupBy("ph").agg(
        F.countDistinct(id_col).alias("__ndocs")
    )
    flagged = paras.join(census, "ph").select(
        id_col,
        "pos",
        "para",
        (F.col("__ndocs") <= max_docs).alias("keep"),
    )
    return flagged.groupBy(id_col).agg(
        F.array_join(
            F.expr(
                "transform(filter(sort_array(collect_list("
                "struct(pos, keep, para))), s -> s.keep), s -> s.para)"
            ),
            PARA_SEP,
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("n_paras"),
        F.sum(F.when(F.col("keep"), 0).otherwise(1))
        .cast("long")
        .alias("n_removed"),
    )
