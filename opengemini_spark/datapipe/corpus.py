"""Corpus-curation extensions for training-data pipelines:
benchmark decontamination, sequence packing, stratified sampling, and
PII redaction.

All four are JVM-expression operators (no Python in the hot path), and
all are deterministic so the DuckDB oracle replays them exactly:

- **decontamination** — the standard k-gram-overlap check training
  pipelines run against evaluation benchmarks (13-gram overlap in the
  GPT-3/PaLM data cards): shingle both corpora with the shared ``h60``
  hash, inner-join on the shingle hash, and report per (doc, bench-doc)
  overlap counts + the fraction of the benchmark doc covered. The join
  is hash-partitioned on a 60-bit key — uniform, never n².
- **sequence packing** — distributable contiguous packing: docs hash
  into ``n_buckets`` independent streams, each stream is packed in
  doc-id order by cumulative token count. The per-bucket window is the
  only state; buckets are the parallelism unit, so there is no global
  sort (a single global ordering would serialize at 100 TB).
- **stratified sampling** — per-stratum hash-deterministic Bernoulli
  keep: rates are a broadcast dim, the keep decision is
  ``h60(seed|id) % 10000 < rate_bp`` — reproducible across retries and
  re-runs (no ``rand()``), which matters for training-data lineage.
- **PII redaction** — regexp_replace of e-mail / IPv4 / phone-shaped
  spans with typed placeholders + per-doc match counts. Patterns avoid
  lookaround so Java regex (Spark) and RE2 (DuckDB) agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from opengemini_spark.datapipe.hashing import (
    FP_MOD,
    h60,
    h60_seeded,
    shingles_expr,
    tokens_expr,
    tokens_raw_expr,
)

# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------


def _shingle_hashes(
    df: DataFrame, k: int, id_alias: str, text_col: str, id_col: str
) -> DataFrame:
    from opengemini_spark.catalog import parallelize_scan

    # keyed by id (r9): the per-doc distinct clusters on (id, sh), which
    # HashPartitioning(id) satisfies — the explode → hash → distinct
    # chain pipelines after one keyed exchange of the compact rows
    # (local-split guard only; no-op at production scale)
    return (
        parallelize_scan(
            df.select(F.col(id_col).alias(id_alias), F.col(text_col)),
            by=id_alias,
        )
        .select(id_alias, tokens_expr(text_col).alias("__toks"))
        .select(
            id_alias,
            F.explode(F.expr(shingles_expr("__toks", k))).alias("__s"),
        )
        .select(id_alias, h60(F.col("__s")).alias("sh"))
        .distinct()
    )


def benchmark_contamination(
    docs: DataFrame,
    bench: DataFrame,
    k: int = 13,
    min_overlap: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: str = "doc_id",
) -> DataFrame:
    """k-gram-overlap decontamination of ``docs`` against ``bench``.

    Returns ``(doc_id, bench_id, n_common, bench_frac_bp)`` for every pair
    sharing ≥ ``min_overlap`` distinct k-gram hashes; ``bench_frac_bp`` is
    the basis-point fraction of the benchmark doc's k-grams found in the
    training doc (integer-exact). Filter high fractions to drop docs.
    """
    d = _shingle_hashes(docs, k, "doc_id", text_col, id_col)
    b = _shingle_hashes(bench, k, "bench_id", text_col, bench_id_col)
    bench_sizes = b.groupBy("bench_id").agg(F.count("*").alias("__bn"))
    overlap = (
        d.join(b, "sh")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("n_common"))
        .filter(F.col("n_common") >= min_overlap)
    )
    return (
        overlap.join(F.broadcast(bench_sizes), "bench_id")
        .select(
            "doc_id",
            "bench_id",
            F.col("n_common").cast("long").alias("n_common"),
            # integer floor division — bit-identical to the SQL oracle's `//`
            F.expr("CAST((n_common * 10000) DIV __bn AS LONG)")
            .alias("bench_frac_bp"),
        )
    )


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------


def pack_sequences(
    df: DataFrame,
    budget: int,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    counts: DataFrame | None = None,
) -> DataFrame:
    """Assign docs to fixed-token-budget training sequences.

    Contiguous packing per hash bucket: within bucket (``h60(id) %
    n_buckets``), docs are laid out in id order and a doc starts the next
    sequence when its starting offset crosses the budget. Output:
    ``(doc_id, bucket, seq_id, seq_offset, n_subwords)`` where ``seq_id``
    is globally unique (bucket-prefixed).

    Scale shape: one window per bucket (running sum), buckets are
    independent — parallelism = n_buckets, no global sort. Raise
    ``n_buckets`` with corpus size; packing quality is unchanged because
    buckets are statistically identical under the hash split.

    ``counts``: optional precomputed ``(doc_id, n_subwords)`` frame —
    pass BPE counts (``bpe.bpe_encode_vocab``'s ``n_bpe_tokens``) to
    budget in real subword tokens instead of the default
    4-chars-per-token heuristic.
    """
    from pyspark.sql import Window

    if counts is not None:
        # left-join onto the doc frame so a counts frame that is missing
        # doc_ids cannot silently DROP documents from the packing output
        # (bpe_encode_vocab emits no row for a token-less doc — r7
        # advice); absent docs count 0.
        sized = (
            df.select(F.col(id_col).alias("doc_id"))
            .join(
                counts.select(
                    F.col(id_col).alias("doc_id"),
                    F.col("n_subwords").cast("long").alias("n_subwords"),
                ),
                "doc_id",
                "left",
            )
            .select(
                "doc_id",
                F.coalesce(F.col("n_subwords"), F.lit(0))
                .cast("long").alias("n_subwords"),
            )
        )
    else:
        # unfiltered split: empties add ceil(0/4) = 0 to the sum, so the
        # tokens_expr filter lambda is a wasted interpreted pass here
        sized = df.select(
            F.col(id_col).alias("doc_id"),
            tokens_raw_expr(text_col).alias("__toks"),
        ).select(
            "doc_id",
            F.expr(
                "aggregate(__toks, 0L, "
                "(acc, t) -> acc + cast(ceil(length(t) / 4.0) as long))"
            ).alias("n_subwords"),
        )
    toks = sized.withColumn(
        "bucket", F.pmod(h60(F.col("doc_id").cast("string")), n_buckets)
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pre = toks.withColumn(
        "pre_sum", F.coalesce(F.sum("n_subwords").over(w), F.lit(0))
    )
    return pre.select(
        "doc_id",
        F.col("bucket").cast("long").alias("bucket"),
        (F.col("bucket") * 1_000_000_000 + F.floor(F.col("pre_sum") / budget))
        .cast("long")
        .alias("seq_id"),
        (F.col("pre_sum") % budget).cast("long").alias("seq_offset"),
        F.col("n_subwords").cast("long").alias("n_subwords"),
    )


# ---------------------------------------------------------------------------
# stratified sampling
# ---------------------------------------------------------------------------


def stratified_sample(
    df: DataFrame,
    rates_bp: dict[str, int],
    default_bp: int = 0,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    seed: int = 7,
) -> DataFrame:
    """Hash-deterministic per-stratum Bernoulli sample.

    ``rates_bp`` maps stratum value → keep rate in basis points (10000 =
    keep all). The keep decision depends only on (seed, id), so the
    sample is stable under retries, re-partitioning, and incremental
    re-runs. Rates ride a broadcast join — the fact table never shuffles.
    """
    spark = df.sparkSession
    rates = spark.createDataFrame(
        [(k, v) for k, v in sorted(rates_bp.items())],
        [strata_col, "__rate_bp"],
    )
    tagged = df.join(F.broadcast(rates), strata_col, "left").withColumn(
        "__rate_bp", F.coalesce(F.col("__rate_bp"), F.lit(default_bp))
    )
    return (
        tagged.withColumn(
            "__u", F.pmod(h60_seeded(F.col(id_col).cast("string"), seed), 10000)
        )
        .filter(F.col("__u") < F.col("__rate_bp"))
        .drop("__rate_bp", "__u")
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# Lookaround-free patterns — identical semantics in Java regex and RE2.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "phone": r"\b[0-9]{3}-[0-9]{4}\b",
}


def redact_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Replace PII-shaped spans with typed placeholders + count them.

    Order matters (e-mail first so its digits/dots aren't re-matched);
    counts are taken on the original text. Output: ``(doc_id,
    redacted_text, n_email, n_ipv4, n_phone)``. Pure regexp expressions —
    codegen'd, column-pruned, no UDF.
    """
    out = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__t"))
    counts = [
        F.regexp_count(F.col("__t"), F.lit(pat)).cast("long").alias(f"n_{name}")
        for name, pat in PII_PATTERNS.items()
    ]
    red = F.col("__t")
    for name, pat in PII_PATTERNS.items():
        red = F.regexp_replace(red, pat, f"<{name.upper()}>")
    return out.select("doc_id", red.alias("redacted_text"), *counts)


# ---------------------------------------------------------------------------
# document chunking
# ---------------------------------------------------------------------------


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int,
    overlap_tokens: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping fixed-token windows (the standard
    pre-training / RAG chunking step). Stride = chunk − overlap; the last
    chunk may be short; empty docs yield no chunks.

    Output: ``(doc_id, chunk_id, chunk_text, n_tokens)`` with ``chunk_id``
    the 0-based window index. Pure JVM array ops (split → sequence →
    slice → join) — one explode, no UDF, parallel over documents.
    """
    assert 0 <= overlap_tokens < chunk_tokens
    stride = chunk_tokens - overlap_tokens
    toks = df.select(
        F.col(id_col).alias("doc_id"), tokens_expr(text_col).alias("__toks")
    ).withColumn("__n", F.size("__toks"))
    return (
        toks.filter(F.col("__n") > 0)
        .withColumn(
            "chunk_id",
            F.explode(
                F.expr(
                    f"sequence(0, greatest(0, cast(ceil((__n - {chunk_tokens})"
                    f" / {stride}.0) as int)))"
                )
            ),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.array_join(
                F.slice(
                    F.col("__toks"),
                    F.col("chunk_id") * stride + 1,
                    chunk_tokens,
                ),
                " ",
            ).alias("chunk_text"),
            F.least(
                F.lit(chunk_tokens),
                F.col("__n") - F.col("chunk_id") * stride,
            ).cast("long").alias("n_tokens"),
        )
    )


def length_bucket_batches(
    df: DataFrame,
    bucket_tokens: int = 32,
    batch_size: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    counts: DataFrame | None = None,
) -> DataFrame:
    """Length-bucketed batch assignment: group documents of similar token
    count and deal each bucket into fixed-size batches — the standard
    padding-waste reducer when batching variable-length sequences for
    training. Deterministic: within a bucket, docs order by (n_tokens,
    id) and batch ``rn div batch_size``.

    → ``(doc_id, bucket, batch_idx, n_tokens)``.

    Scale: token counts are one narrow projection; the only stateful op
    is a per-bucket window — buckets are the parallelism unit and no
    global sort exists. Bucket skew is bounded by the corpus length
    distribution; halve ``bucket_tokens`` to split a hot bucket.

    ``counts``: optional precomputed ``(doc_id, n_subwords)`` frame
    (same contract as :func:`pack_sequences` — pass the BPE counter to
    bucket in real subword tokens); docs missing from it count 0 via
    the coverage left-join, so batching never loses documents.
    """
    from pyspark.sql import Window

    from opengemini_spark.datapipe.text import token_stats

    if counts is not None:
        toks = (
            df.select(F.col(id_col))
            .join(
                counts.select(
                    F.col(id_col),
                    F.col("n_subwords").cast("long").alias("__nsw"),
                ),
                id_col,
                "left",
            )
            .select(
                id_col,
                F.coalesce(F.col("__nsw"), F.lit(0))
                .cast("long").alias("n_tokens"),
            )
        )
    else:
        toks = token_stats(df, text_col=text_col, id_col=id_col)
    b = toks.withColumn(
        "bucket", (F.col("n_tokens") / bucket_tokens).cast("long")
    )
    w = Window.partitionBy("bucket").orderBy(
        F.col("n_tokens").asc(), F.col(id_col).asc()
    )
    return (
        b.withColumn("__rn", F.row_number().over(w))
        .select(
            id_col,
            "bucket",
            ((F.col("__rn") - 1) / batch_size).cast("long").alias("batch_idx"),
            "n_tokens",
        )
    )


def holdout_exact_dedup(
    df: DataFrame,
    holdout_source: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Document-level cross-corpus dedup: drop every training document
    whose EXACT content also appears in the held-out corpus (train/test
    leakage at whole-document granularity — the cheap first pass before
    shingle-level decontamination).

    → the kept training docs ``(doc_id, source)``: documents outside
    ``holdout_source`` whose md5(text) does not occur in it.

    Scale: one md5 projection per side and a left-anti hash join on the
    digest — high-cardinality key, no skew, and the held-out side is
    usually small enough that Catalyst broadcasts it.
    """
    hashed = df.select(
        F.col(id_col), F.col(source_col), F.md5(F.col(text_col)).alias("__h")
    )
    held = (
        hashed.filter(F.col(source_col) == holdout_source)
        .select("__h")
        .distinct()
    )
    return (
        hashed.filter(F.col(source_col) != holdout_source)
        .join(held, "__h", "left_anti")
        .select(id_col, source_col)
    )


def weighted_sample(
    docs: DataFrame,
    k: int,
    weight_col: str = "quality_bp",
    group_col: str = "lang",
    id_col: str = "doc_id",
    seed: int = 0xA11CE,
) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis–
    Spirakis A-ES): per group, draw the ``k`` docs with the largest key
    u^(1/w) where u is a seeded hash-uniform in (0,1) and w the weight —
    selection probability proportional to weight, reproducible across
    runs and engines (no rand()).

    Ranking uses the monotone-equivalent ln(u)/w (avoids pow), rounded
    to 9 dp BEFORE the window so both engines order identical doubles;
    ties break by id. → ``(doc_id, group, weight, rank)``.

    Scale: one hash + one ln per row, one per-group top-k window — the
    same shape as stratified_sample but weight-aware; group sizes bound
    the sort.
    """
    from pyspark.sql import Window

    from opengemini_spark.datapipe.hashing import h60_seeded

    u = (h60_seeded(F.col(id_col).cast("string"), seed) + F.lit(1.0)) / F.lit(
        float(2**60 + 1)
    )
    keyed = docs.select(
        F.col(id_col),
        F.col(group_col).alias("grp"),
        F.col(weight_col).cast("double").alias("w"),
        F.round(F.log(u) / F.col(weight_col).cast("double"), 9).alias("__key"),
    ).filter(F.col("w") > 0)
    win = Window.partitionBy("grp").orderBy(
        F.col("__key").desc(), F.col(id_col).asc()
    )
    return (
        keyed.withColumn("rank", F.row_number().over(win).cast("long"))
        .filter(F.col("rank") <= k)
        .select(id_col, F.col("grp").alias(group_col),
                F.col("w").cast("long").alias("weight"), "rank")
    )


def mixing_weights(
    docs: DataFrame,
    target: dict[str, float],
    group_col: str = "source",
    counts: DataFrame | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Data-mixing plan: given target fractions per source, compute the
    largest downsampled corpus that achieves the mix WITHOUT upsampling
    and each source's keep probability.

    N_out = min_s floor(n_s / target_s) (the binding source keeps 100%);
    keep_prob_s = target_s · N_out / n_s; expected_docs = round(target_s
    · N_out). → ``(source, n_docs, target_frac, keep_prob, expected_docs)``
    — the planning pass a pipeline runs before materializing a mixture;
    the tiny per-source result then drives a hash-threshold sample.

    ``counts``: optional ``(doc_id, n_subwords)`` frame (the BPE counter
    — same contract as :func:`pack_sequences`): the plan is then
    budgeted in TOKENS, n_s = Σ subwords per source (mixture fractions
    for training are token fractions, not document fractions, when
    document lengths differ across sources); docs missing from
    ``counts`` contribute 0 via the coverage left-join.

    Scale: one count/sum per source (map-side partial agg), output rows
    = number of sources.
    """
    if counts is not None:
        sized = docs.select(F.col(group_col), F.col(id_col)).join(
            counts.select(
                F.col(id_col),
                F.col("n_subwords").cast("long").alias("__nsw"),
            ),
            id_col,
            "left",
        )
        rows = sized.groupBy(F.col(group_col).alias("src")).agg(
            F.sum(F.coalesce(F.col("__nsw"), F.lit(0))).alias("n_docs")
        )
    else:
        rows = docs.groupBy(F.col(group_col).alias("src")).agg(
            F.count(F.lit(1)).alias("n_docs")
        )
    spark = docs.sparkSession
    tgt = spark.createDataFrame(
        [(s, float(f)) for s, f in sorted(target.items())],
        "src string, target_frac double",
    )
    j = rows.join(F.broadcast(tgt), "src")
    # N_out = min over sources of floor(n_s / target_s): a 1-row agg
    n_out = j.agg(
        F.min(F.floor(F.col("n_docs") / F.col("target_frac")))
        .cast("long").alias("n_out")
    )
    return (
        j.crossJoin(F.broadcast(n_out))
        .select(
            F.col("src").alias(group_col),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("target_frac"),
            F.round(
                F.col("target_frac") * F.col("n_out") / F.col("n_docs"), 9
            ).alias("keep_prob"),
            F.round(F.col("target_frac") * F.col("n_out"), 0)
            .cast("long").alias("expected_docs"),
        )
    )


def holdout_fuzzy_dedup(
    df: DataFrame,
    holdout_source: str,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Fuzzy cross-corpus decontamination: drop every training document
    whose bigram-shingle Jaccard against ANY held-out document reaches
    ``threshold`` — the near-duplicate leakage the exact md5 pass
    (:func:`holdout_exact_dedup`) misses (reformatted copies, trailing
    whitespace, light paraphrase).

    Bipartite MinHash-LSH: both corpora share the signature pipeline;
    candidates are (train, holdout) band collisions ONLY (train×train
    pairs never form — unlike the symmetric dedup); the exact
    shingle-set verification touches candidates alone. → the KEPT
    training docs ``(doc_id, source)``.

    Scale: signature stage is one explode + hash-agg min per corpus (a
    single shared scan — the split is a filter); the band buckets
    shuffle compact (band, key) rows; the anti-join key is the flagged
    train-doc id. Work is collision-proportional, never
    |train|×|holdout|.
    """
    from opengemini_spark.datapipe.dedup import (
        SHINGLE_K,
        _shingle_jaccard_verify,
        doc_shingles_raw,
        lsh_band_keys,
        minhash_signatures,
    )

    tagged = df.select(
        F.col(id_col), F.col(source_col), F.col(text_col)
    )
    raw = doc_shingles_raw(tagged, SHINGLE_K, text_col, id_col)
    bands = lsh_band_keys(minhash_signatures(raw, id_col), id_col)
    side = tagged.select(
        F.col(id_col), (F.col(source_col) == holdout_source).alias("__held")
    )
    bands = bands.join(side, id_col)
    # bucket the bipartite band collision with ONE groupBy exchange on
    # (band, key), one id list per side: collect_list skips the
    # other-side NULLs, and the double explode emits exactly the
    # train×held pairs of each bucket as (id_a = train, id_b = held).
    # dedup's symmetric bucket helper would also emit train×train pairs.
    buckets = (
        bands.groupBy("band", "key")
        .agg(
            F.collect_list(
                F.when(~F.col("__held"), F.col(id_col))
            ).alias("__t"),
            F.collect_list(
                F.when(F.col("__held"), F.col(id_col))
            ).alias("__h"),
        )
        .filter((F.size("__t") >= 1) & (F.size("__h") >= 1))
    )
    cand = (
        buckets.select(F.explode("__t").alias("id_a"), "__h")
        .select("id_a", F.explode("__h").alias("id_b"))
        .distinct()
    )
    contaminated = (
        _shingle_jaccard_verify(tagged, cand, threshold, text_col, id_col)
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
    return (
        tagged.filter(F.col(source_col) != holdout_source)
        .join(contaminated, id_col, "left_anti")
        .select(id_col, source_col)
    )


def span_decontaminate(
    train: DataFrame,
    holdout: DataFrame,
    k: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span-level benchmark decontamination: remove from every training
    document the k-token spans that appear ANYWHERE in the held-out
    corpus, keeping the rest of the document — the surgical alternative
    to dropping whole documents (Lee et al. 2022 dedup machinery applied
    cross-corpus: doc-level drops lose all the clean text around one
    quoted benchmark item).

    Overlapping contaminated spans union their covered token ranges, so
    a long verbatim benchmark quote disappears wholesale. Returns one
    row per training document: ``(id_col, clean_text, n_removed)`` —
    surviving tokens re-joined in order (token-normalized space, same
    contract as :func:`opengemini_spark.datapipe.dedup.span_dedup`).

    Scale: the holdout shingle set is one distinct 60-bit-hash column
    (benchmarks ≪ corpus — broadcastable); the train side pays one
    shingle explode + semi join, a covered-position explode proportional
    to the CONTAMINATED spans only, and the doc-keyed rebuild. No UDF.
    """
    from opengemini_spark.catalog import parallelize_scan

    # keyed by id (r9): covered-distinct, anti-join, rebuild and the
    # final size join are all (id, ...)-keyed — one keyed exchange total
    toks = (
        parallelize_scan(train.select(F.col(id_col), F.col(text_col)), by=id_col)
        .select(F.col(id_col), tokens_expr(text_col).alias("__toks"))
    )
    occ = toks.select(
        id_col,
        F.posexplode(F.expr(shingles_expr("__toks", k))).alias("j", "__s"),
    ).select(id_col, "j", h60(F.col("__s")).alias("sh"))

    hold_sh = (
        holdout.select(tokens_expr(text_col).alias("__ht"))
        .select(F.explode(F.expr(shingles_expr("__ht", k))).alias("__s"))
        .select(h60(F.col("__s")).alias("sh"))
        .distinct()
    )
    bad_occ = occ.join(F.broadcast(hold_sh), "sh", "left_semi")
    covered = (
        bad_occ.select(
            id_col,
            F.explode(F.sequence(F.col("j"), F.col("j") + (k - 1))).alias(
                "pos"
            ),
        )
        .distinct()
    )
    tokpos = toks.select(id_col, F.posexplode("__toks").alias("pos", "tok"))
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


def _shuffle_layout_cols(
    id_col: str, n_shards: int, seed: int
) -> tuple["F.Column", "F.Column"]:
    """The deterministic ``(shuffle_key, shard_id)`` projection shared by
    :func:`global_shuffle`, :func:`shard_manifest` and
    :func:`pack_shuffled`'s inline path — one derivation so the layout
    can never drift between them (r9 advice)."""
    key = h60_seeded(F.col(id_col).cast("string"), seed)
    return (
        key.alias("shuffle_key"),
        F.pmod(key, F.lit(n_shards)).cast("long").alias("shard_id"),
    )


def global_shuffle(
    df: DataFrame,
    n_shards: int = 64,
    seed: int = 0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global shuffle into training shards.

    Training-data pipelines need a reproducible random order over the
    whole corpus before packing/serving (epoch shuffling): every doc
    gets a pseudorandom rank derived only from ``(seed, doc_id)``, so
    any run — and the oracle — produces the identical order. The key is
    the shared 60-bit md5 primitive (``h60``); the shard is the key mod
    ``n_shards``; ``shard_pos`` is the doc's position in its shard's
    key order.

    Returns ``(id_col, shuffle_key, shard_id, shard_pos)``.

    Scale shape: ONE hash-partition shuffle on ``shard_id`` with a
    per-shard sort (`row_number` window per shard = Spark's
    repartition + sortWithinPartitions plan — no global ordering, no
    range-exchange, no skew because md5 keys are uniform). Choose
    ``n_shards`` so one shard ~ one output file (data_size / ~256 MB at
    100 TB — hundreds of thousands of shards — so each sort fits one
    task comfortably); the oracle-gated suite runs 64.
    """
    from pyspark.sql import Window

    sk, sid = _shuffle_layout_cols(id_col, n_shards, seed)
    out = df.select(F.col(id_col), sk, sid)
    w = Window.partitionBy("shard_id").orderBy("shuffle_key", id_col)
    return out.select(
        id_col,
        "shuffle_key",
        "shard_id",
        F.row_number().over(w).cast("long").alias("shard_pos"),
    )


def shard_manifest(
    df: DataFrame,
    n_shards: int = 64,
    seed: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-shard content manifest for the deterministic shuffle: one row
    per shard with ``(shard_id, n_docs, min_pos, max_pos, content_sum)``
    where ``content_sum`` is the order-insensitive sum of the docs'
    60-bit content hashes mod FP_MOD.

    The integrity record a petabyte-scale pipeline writes next to every
    shard: re-running the shuffle (any cluster size, any partitioning)
    must reproduce the same manifest, and a reader can verify a shard
    without trusting the writer. Order-insensitive by construction so
    the check is independent of task scheduling; positions are covered
    separately by the dense min/max (1..n_docs from
    :func:`global_shuffle`).

    Scale shape: the same single hash-partition shuffle as
    :func:`global_shuffle` plus a 64-row aggregate — the manifest adds
    nothing data-proportional. The content hash rides the shuffle-key
    projection (no join back to the input: one shuffle total).

    Per-shard row bound (r9 ADVICE): ``content_sum`` accumulates int64
    values < FP_MOD (≈10^9) with Spark's wrapping long SUM before the
    final mod, so it is exact only while a shard holds fewer than
    2^63 / FP_MOD ≈ 9.2e9 docs (the DuckDB oracle sums in 128-bit and
    never wraps). Size ``n_shards`` so shards stay well under ~10^9
    docs — any training-shard sizing is orders of magnitude below this
    — or, for an any-size-exact form, accumulate into DECIMAL(38,0)
    before the mod at ~2x aggregate cost.
    """
    from pyspark.sql import Window

    sk, sid = _shuffle_layout_cols(id_col, n_shards, seed)
    base = df.select(
        F.col(id_col),
        sk,
        sid,
        (h60(F.col(text_col)) % F.lit(FP_MOD)).alias("__ch"),
    )
    w = Window.partitionBy("shard_id").orderBy("shuffle_key", id_col)
    return (
        base.withColumn("shard_pos", F.row_number().over(w))
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("shard_pos").cast("long").alias("min_pos"),
            F.max("shard_pos").cast("long").alias("max_pos"),
            (F.sum("__ch") % F.lit(FP_MOD)).cast("long").alias("content_sum"),
        )
    )


def hash_split(
    df: DataFrame,
    fractions: dict[str, int] | None = None,
    seed: int = 0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic train/val/test assignment by id hash.

    ``fractions`` maps split name -> basis points (must sum to 10000);
    default ``{"train": 9800, "val": 100, "test": 100}``. A doc's
    bucket is ``h60(seed|id) % 10000`` and splits own contiguous
    bucket ranges in the dict's order.

    The property that matters (and why this is not ``row_number() %
    k``): a document's split depends ONLY on ``(seed, id)`` — never on
    which other rows are present — so the assignment is stable under
    corpus growth, re-sharding, and incremental ingest; yesterday's
    val doc can never silently migrate into train. Integer basis
    points make every boundary decision exact for the oracle replay.

    Returns ``(id_col, bucket, split)``.

    Scale shape: a pure projection (hash + range CASE), no shuffle —
    the split column is free to compute at read time forever after.
    """
    if fractions is None:
        fractions = {"train": 9800, "val": 100, "test": 100}
    if sum(fractions.values()) != 10000:
        raise ValueError(
            f"fractions must sum to 10000 basis points, got {fractions}"
        )
    # every value must be a positive basis-point count: a negative entry
    # (e.g. {'train': -100, 'val': 10100}) passes the sum check but
    # produces an inverted/empty range for one split and an out-of-range
    # boundary for the next (r9 ADVICE)
    bad = {k: v for k, v in fractions.items() if not 0 < v <= 10000}
    if bad:
        raise ValueError(
            f"every fraction must be in (0, 10000] basis points, got {bad}"
        )
    bucket = F.pmod(
        h60_seeded(F.col(id_col).cast("string"), seed), F.lit(10000)
    ).cast("long")
    out = df.select(F.col(id_col), bucket.alias("bucket"))
    expr = None
    lo = 0
    for name, bp in fractions.items():
        hi = lo + bp
        cond = (F.col("bucket") >= lo) & (F.col("bucket") < hi)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(
            cond, F.lit(name)
        )
        lo = hi
    return out.select(id_col, "bucket", expr.alias("split"))


def pack_shuffled(
    df: DataFrame,
    budget: int,
    n_shards: int = 64,
    seed: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
    counts: DataFrame | None = None,
) -> DataFrame:
    """Sequence packing in DETERMINISTIC-SHUFFLE order — the actual
    training layout: :func:`global_shuffle` fixes a reproducible random
    order, then each shard packs contiguously by cumulative token count
    (same budget rule as :func:`pack_sequences`, whose id-order layout
    is the ingest-side form).

    Output ``(doc_id, shard_id, seq_id, seq_offset, n_subwords)``;
    ``seq_id`` is globally unique (shard-prefixed). ``counts`` as in
    :func:`pack_sequences` (pass BPE counts for token-exact budgets).

    Scale shape: ONE hash-partition shuffle on shard_id; the running
    sum is a per-shard window in shuffle-key order (shards are the
    parallelism unit — no global sort, uniform md5 keys, no skew).
    """
    from pyspark.sql import Window

    if counts is not None:
        shuffled = global_shuffle(
            df, n_shards=n_shards, seed=seed, id_col=id_col
        )
        sized = counts.select(
            F.col(id_col), F.col("n_subwords").cast("long").alias("n_subwords")
        )
        laid = shuffled.join(sized, id_col, "left").select(
            id_col,
            "shard_id",
            "shuffle_key",
            F.coalesce(F.col("n_subwords"), F.lit(0)).cast("long").alias(
                "n_subwords"
            ),
        )
    else:
        # default 4-chars-per-token count is a row-wise function of the
        # SAME rows the shuffle key comes from: compute both in one
        # projection instead of a second scan + doc_id join (r9 — the
        # join doubled the parquet scan and ran the tokenize on the scan
        # side's single local split). Keyed spread on shard_id so the
        # one exchange the per-shard window needs also parallelizes the
        # tokenize locally (no-op at production scale).
        from opengemini_spark.catalog import parallelize_scan

        sk, sid = _shuffle_layout_cols(id_col, n_shards, seed)
        laid = (
            parallelize_scan(
                df.select(F.col(id_col), sk, sid, F.col(text_col)),
                by="shard_id",
            )
            .select(
                id_col,
                "shard_id",
                "shuffle_key",
                # unfiltered split: empties add 0 to the subword sum
                tokens_raw_expr(text_col).alias("__toks"),
            )
            .select(
                id_col,
                "shard_id",
                "shuffle_key",
                F.coalesce(
                    F.expr(
                        "aggregate(__toks, 0L, "
                        "(acc, t) -> acc + cast(ceil(length(t) / 4.0) as long))"
                    ),
                    F.lit(0),
                )
                .cast("long")
                .alias("n_subwords"),
            )
        )
    w = (
        Window.partitionBy("shard_id")
        .orderBy("shuffle_key", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pre = laid.withColumn(
        "pre_sum", F.coalesce(F.sum("n_subwords").over(w), F.lit(0))
    )
    return pre.select(
        id_col,
        F.col("shard_id").cast("long").alias("shard_id"),
        (F.col("shard_id") * 1_000_000_000 + F.floor(F.col("pre_sum") / budget))
        .cast("long")
        .alias("seq_id"),
        (F.col("pre_sum") % budget).cast("long").alias("seq_offset"),
        "n_subwords",
    )
