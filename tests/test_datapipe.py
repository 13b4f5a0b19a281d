"""Unit tests for the training-data pipeline operators (datapipe/)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opengemini_spark.datapipe import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup of 1
        (4, "completely different words entirely here now today ok fine"),
        (5, "tiny"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(docs):
    out = {r["doc_id"]: r["n_copies"] for r in dedup.exact_dedup(docs).collect()}
    assert out[1] == 2          # doc 2 collapsed into doc 1
    assert 2 not in out
    assert out[3] == 1 and out[4] == 1


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_dedup(docs, threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0          # exact dup → jaccard 1
    assert (1, 3) in pairs               # near dup found
    assert pairs[(1, 3)] < 1.0
    assert all(a != 4 and b != 4 for a, b in pairs)  # unrelated doc untouched


def test_ngram_jaccard(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_dedup(docs, threshold=0.3).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs


def test_simhash_identical_docs_hamming_zero(docs):
    out = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_near_dups(docs, max_hamming=5).collect()
    }
    assert out[(1, 2)] == 0


def test_simhash_near_dups_matches_brute_force(spark, sf_dir):
    """At the pigeonhole bound (hamming 3 over 4 bands) the band buckets
    find every pair: equal to all-pairs hamming over the fingerprints."""
    from opengemini_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    sims = {r["doc_id"]: r["simhash"]
            for r in dedup.simhash(docs).collect()}
    ids = sorted(sims)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin(sims[a] ^ sims[b]).count("1")
            if h <= 3:
                want.add((a, b, h))
    out = dedup.simhash_near_dups(docs, max_hamming=3)
    assert out.schema.simpleString() == \
        "struct<id_a:bigint,id_b:bigint,hamming:bigint>"
    got = {tuple(r) for r in out.collect()}
    assert got == want and want  # non-vacuous


def test_cosine_topk_toy(spark):
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 1.0]),
        (3, [-1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=2)
    got = [(r["vec_id"], r["rank"]) for r in out.orderBy("rank").collect()]
    assert got == [(1, 1), (2, 2)]  # nearest is the almost-parallel vector


def test_ivf_topk_probes_restrict(spark):
    rows = [
        (0, 0, [1.0, 0.0]),
        (1, 0, [0.95, 0.05]),
        (2, 1, [0.0, 1.0]),
        (3, 1, [0.1, 0.9]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    out = similarity.ivf_topk(
        emb, emb.filter(F.col("vec_id") == 0), k=3, nprobe=1
    ).collect()
    # nprobe=1 → only label 0 scanned → sole hit is vec 1
    assert [r["vec_id"] for r in out] == [1]


def test_token_stats_and_fingerprint_deterministic(docs):
    ts = {r["doc_id"]: r["n_tokens"] for r in text.token_stats(docs).collect()}
    assert ts[1] == 9 and ts[5] == 1
    fp1 = {r["doc_id"]: r["fingerprint"] for r in text.fingerprint(docs).collect()}
    fp2 = {r["doc_id"]: r["fingerprint"] for r in text.fingerprint(docs).collect()}
    assert fp1 == fp2
    assert fp1[1] == fp1[2] != fp1[3]  # same text → same fp; order-sensitive


def test_quality_score_bounds(docs):
    out = {r["doc_id"]: r["quality_bp"] for r in text.quality_score(docs).collect()}
    assert all(0 <= v <= 10000 for v in out.values())
    assert out[1] > out[5]  # real sentence beats 4-char fragment


def test_lang_id_stopword_argmax(spark):
    rows = [
        (1, "the cat is in the house and it is warm"),
        (2, "der hund ist ein tier und das ist gut"),
        (3, "xyzzy qwerty plugh"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["pred_lang"] for r in text.lang_id(df).collect()}
    assert out[1] == "en" and out[2] == "de" and out[3] == "und"


def test_multimodal_stub(docs):
    with_payload = multimodal.attach_payload(docs)
    feats = {
        r["doc_id"]: r for r in multimodal.decode_stub_features(with_payload).collect()
    }
    assert feats[5]["n_bytes"] == 4
    assert feats[5]["first_byte"] == ord("t")
    assert feats[5]["last_byte"] == ord("y")
    with pytest.raises(NotImplementedError):
        multimodal.decode_real(b"\x89PNG")


def test_frame_sample_deterministic(docs):
    wp = multimodal.attach_payload(docs)
    a = sorted(r["doc_id"] for r in multimodal.frame_sample_plan(wp, 2).collect())
    b = sorted(r["doc_id"] for r in multimodal.frame_sample_plan(wp, 2).collect())
    assert a == b


def test_connected_components_chain(spark):
    """Transitive chain A-B, B-C, D-E → components {A,B,C}, {D,E}."""
    from opengemini_spark.datapipe.cluster import connected_components, dedup_keep_list

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    comp = {r["doc_id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame([(i, "t") for i in (1, 2, 3, 10, 11, 99)],
                                 ["doc_id", "text"])
    keep = {r["doc_id"]: r["keep"] for r in
            dedup_keep_list(docs, connected_components(pairs)).collect()}
    assert keep == {1: True, 2: False, 3: False, 10: True, 11: False, 99: True}


def test_connected_components_long_chain_pointer_jump(spark):
    """A 60-edge path has diameter 60 > max_iter=20: flat one-hop
    propagation would silently truncate at the iteration cap, while the
    round-3+ pointer jump (label-of-label) converges in O(log diameter)
    rounds — every node must reach the chain's minimum id."""
    from opengemini_spark.datapipe.cluster import connected_components

    n = 61  # path 0-1-2-...-60, worst case: min id at one end
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["id_a", "id_b"]
    )
    comp = {
        r["doc_id"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert comp == {i: 0 for i in range(n)}


def test_curate_pipeline(docs):
    from opengemini_spark.datapipe.curate import curate

    d = docs.withColumn("lang", F.lit("en"))
    out = {r["doc_id"]: r["reason"] for r in
           curate(d, min_quality_bp=4000, jaccard_threshold=0.5).collect()}
    assert out[2] == "duplicate"          # exact dup of doc 1
    assert out[5] == "low_quality"        # 4-char fragment
    assert out[1] == "kept" or out[1] == "duplicate"  # component rep kept
    assert out[4] == "kept"


def test_blocked_and_lsh_near_dups_match_brute_force(spark, sf_dir):
    """blocked_near_dups and lsh_near_dups must reproduce the crossJoin
    baseline exactly (pairs AND cosines), with no cartesian node."""
    from opengemini_spark.catalog import load_table
    from opengemini_spark.datapipe import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    t = 0.40
    want = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in similarity.embedding_near_dups(emb, t).collect()
    }
    assert want, "threshold too high — test would be vacuous"
    for fn in (similarity.blocked_near_dups, similarity.lsh_near_dups):
        df = fn(emb, t)
        got = {(r["id_a"], r["id_b"], r["cosine"]) for r in df.collect()}
        assert got == want, fn.__name__
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_lsh_int8_rerank_identical_output(spark, sf_dir):
    """The int8-codes rerank exchange (1000x bytes lever) is LOSSLESS:
    the quantization error bound only decides which candidate pairs pay
    the exact rerank, never the output — identical frames (pairs AND
    cosines) with the lever forced on and forced off, at a high
    threshold (its design regime) and at a low one, and with the policy
    default under an explicit ``prefilter_dims=0``."""
    from opengemini_spark.catalog import load_table
    from opengemini_spark.datapipe import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    # plant exact dups so the high-threshold pair set is non-empty
    base = emb.filter(F.col("vec_id") < 100)
    dup = base.withColumn("vec_id", F.col("vec_id") + 100000)
    corpus = emb.unionByName(dup)
    for thr in (0.85, 0.45):
        off = {
            tuple(r)
            for r in similarity.lsh_near_dups(
                corpus, thr, int8_rerank=False
            ).collect()
        }
        on = {
            tuple(r)
            for r in similarity.lsh_near_dups(
                corpus, thr, int8_rerank=True
            ).collect()
        }
        assert on == off and off, thr
        # an explicit prefilter_dims=0 asks only for no CS prefix: the
        # int8 default still applies in its regime (its codes ride the
        # candidate plan), with the same output
        stats: dict = {}
        zero = {
            tuple(r)
            for r in similarity.lsh_near_dups(
                corpus, thr, prefilter_dims=0, stats_out=stats
            ).collect()
        }
        plan = stats["candidates"]._jdf.queryExecution().analyzed().toString()
        assert ("__qz" in plan and "__l1" in plan) == (thr == 0.85), thr
        assert zero == off, thr


def test_blocked_near_dups_block_count_invariance(spark, sf_dir):
    """Result is independent of the blocking factor."""
    from opengemini_spark.catalog import load_table
    from opengemini_spark.datapipe import similarity

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    a = {tuple(r) for r in similarity.blocked_near_dups(emb, 0.35, n_blocks=3).collect()}
    b = {tuple(r) for r in similarity.blocked_near_dups(emb, 0.35, n_blocks=11).collect()}
    assert a == b and a


def test_ivf_kmeans_recall_vs_brute_force(spark, sf_dir):
    """Computed-centroid IVF: deterministic across runs, and recall@5 vs
    exact brute force is reasonable for nprobe=2 of 8 cells."""
    from opengemini_spark.catalog import load_table
    from opengemini_spark.datapipe import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 8)
    ivf1 = similarity.ivf_topk_kmeans(emb, qs, 5, nlist=8, nprobe=2)
    ivf2 = similarity.ivf_topk_kmeans(emb, qs, 5, nlist=8, nprobe=2)
    s1 = {tuple(r) for r in ivf1.collect()}
    assert s1 == {tuple(r) for r in ivf2.collect()} and len(s1) == 40

    exact = {
        (r["query_id"], r["vec_id"])
        for r in similarity.cosine_topk(emb, qs, 5).collect()
    }
    got = {(r[0], r[1]) for r in s1}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.3, recall  # random embeddings, 2/8 cells probed


def test_kmeans_cells_partition_everything(spark, sf_dir):
    from opengemini_spark.catalog import load_table
    from opengemini_spark.datapipe import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    assign, cents = similarity.kmeans_cells(emb, k=8, n_iter=2)
    n = emb.count()
    assert assign.count() == n
    assert assign.select("vec_id").distinct().count() == n
    assert cents.count() <= 8


def test_repetition_signals_exact(spark):
    """Constructed doc: 'a b a b c' → 5 words, 3 distinct, top word 'b'
    ties 'a' at 2 (lexicographically larger wins), top bigram 'a b' ×2
    covering 2·2 chars of 5 word chars."""
    from opengemini_spark.datapipe.text import repetition_signals

    df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "x")], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    r1 = got[1]
    assert r1["n_words"] == 5
    assert r1["dup_word_frac"] == round((5 - 3) / 5, 6)
    assert r1["top_word_frac"] == round(2 / 5, 6)
    assert r1["top_bigram_char_frac"] == round(2 * 2 / 5, 6)
    r2 = got[2]  # single word: no bigram → 0.0, no dups
    assert (r2["n_words"], r2["dup_word_frac"],
            r2["top_bigram_char_frac"]) == (1, 0.0, 0.0)


def test_quality_percentile_filter_drops_bottom_decile(spark, sf_dir):
    from opengemini_spark.catalog import load_table
    from opengemini_spark.datapipe import curate

    docs = load_table(spark, sf_dir, "documents")
    kept = curate.quality_percentile_filter(docs, frac=0.1)
    by_lang_total = {r["lang"]: r["n"] for r in docs.groupBy("lang")
                     .agg(F.count(F.lit(1)).alias("n")).collect()}
    by_lang_kept = {r["lang"]: r["n"] for r in kept.groupBy("lang")
                    .agg(F.count(F.lit(1)).alias("n")).collect()}
    import math
    for lang, n in by_lang_total.items():
        assert by_lang_kept.get(lang, 0) == n - math.ceil(n * 0.1), lang


def test_adaptive_lsh_params_scaling():
    """adaptive_lsh_params (the SCALE100_r05 1000x lever): band width r
    grows with log n, the random-collision budget n*b/2^r stays within
    the requested bound, and the recall-regime miss probability stays
    under delta."""
    import math

    from opengemini_spark.datapipe.similarity import adaptive_lsh_params

    prev_r = 0
    for n in (1_000, 10_000, 100_000, 1_000_000, 4_000_000):
        b, r = adaptive_lsh_params(n, 0.99)
        assert r >= prev_r, "r must be monotone in n"
        prev_r = r
        # budget: expected random candidates per vector
        assert n * b / 2**r <= 4.0 + 1e-9
        # recall at the default recall_cosine (midway to 1.0)
        p = 1.0 - math.acos((1.0 + 0.99) / 2.0) / math.pi
        assert (1.0 - p**r) ** b <= 1e-6 * 1.01

    # near-identical pairs keep near-identical signatures at any r:
    # a planted cosine-1.0 pair always collides (identical bits), which
    # is why the highthr oracle is banding-independent
    b, r = adaptive_lsh_params(4_000_000, 0.99, recall_cosine=1.0)
    assert b == 8  # min_bands: miss probability is exactly 0


def test_quantize_embeddings_scale_and_codes(spark):
    from opengemini_spark.datapipe.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [(1, [0.0, -2.54, 1.27]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = quantize_embeddings(df)
    # packed serving shape: one row per vector, codes are real tinyints
    assert dict(out.dtypes)["codes"] == "array<tinyint>"
    rows = {r["vec_id"]: r for r in out.collect()}
    assert len(rows) == 2
    # vec 1: scale = 2.54/127 = 0.02; codes 0, -127, 63.5 -> 64 (half-up)
    assert rows[1]["codes"] == [0, -127, 64]
    assert abs(rows[1]["scale"] - 0.02) < 1e-9
    # all-zero vector: scale falls back to 1.0, codes all 0
    assert rows[2]["scale"] == 1.0
    assert rows[2]["codes"] == [0, 0, 0]


def test_bm25_search_exact(spark):
    """BM25 on a constructed 3-doc corpus: hand-computed Okapi scores
    (Lucene idf), rank ties broken by doc_id."""
    import math

    from opengemini_spark.datapipe.retrieval import bm25_search

    docs = spark.createDataFrame(
        [
            (1, "spark join spark"),          # tf(spark)=2, dl=3
            (2, "join window"),               # tf(join)=1, dl=2
            (3, "nothing here at all"),       # no hits, dl=4
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in bm25_search(docs, ["spark", "join"], k=3).collect()}
    n, avgdl = 3, (3 + 2 + 4) / 3
    k1, b = 1.2, 0.75

    def score(tf, df, dl):
        idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        return idf * (tf * (k1 + 1.0)) / (tf + k1 * (1 - b + b * dl / avgdl))

    exp1 = round(score(2, 1, 3) + score(1, 2, 3), 6)   # spark + join
    exp2 = round(score(1, 2, 2), 6)                    # join only
    assert abs(out[1]["score"] - exp1) < 1e-9 and out[1]["rank"] == 1
    assert abs(out[2]["score"] - exp2) < 1e-9 and out[2]["rank"] == 2
    assert 3 not in out  # no query term -> no row


def test_lm_perplexity_exact(spark):
    """Bigram-LM NLL on a constructed corpus: add-one smoothing over
    self-trained counts, hand-computed."""
    import math

    from opengemini_spark.datapipe.retrieval import lm_perplexity

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "x")],
        "doc_id long, text string",
    )
    # corpus bigrams: doc1: ab, ba, ab; doc2: ab, bc -> C(a,b)=3, C(b,a)=1,
    # C(b,c)=1; heads: C1(a)=3, C1(b)=2; V = {a,b,c,x} = 4
    out = {r["doc_id"]: r for r in lm_perplexity(docs).collect()}
    p_ab = (3 + 1) / (3 + 4)
    p_ba = (1 + 1) / (2 + 4)
    p_bc = (1 + 1) / (2 + 4)
    exp1 = round(-(math.log(p_ab) + math.log(p_ba) + math.log(p_ab)) / 3, 6)
    exp2 = round(-(math.log(p_ab) + math.log(p_bc)) / 2, 6)
    assert out[1]["n_bigrams"] == 3 and abs(out[1]["nll"] - exp1) < 1e-9
    assert out[2]["n_bigrams"] == 2 and abs(out[2]["nll"] - exp2) < 1e-9
    assert 3 not in out  # single-token doc has no bigrams


def test_domain_cap_keeps_best_per_source(spark):
    """domain_cap: at most N per source, highest quality first, rn is the
    within-source quality rank."""
    from opengemini_spark.datapipe.curate import domain_cap
    from opengemini_spark.datapipe.text import quality_score

    rows = [
        (1, "short", "s1"),
        (2, "a much longer document with several reasonable words inside", "s1"),
        (3, "medium length doc with words", "s1"),
        (4, "only doc in its source", "s2"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["doc_id"]: r for r in domain_cap(docs, 2).collect()}
    q = {r["doc_id"]: r["quality_bp"] for r in quality_score(docs).collect()}
    # s1 keeps its two best by quality; s2 keeps its only doc
    s1_sorted = sorted([1, 2, 3], key=lambda d: (-q[d], d))
    assert set(out) == set(s1_sorted[:2]) | {4}
    assert out[s1_sorted[0]]["rn"] == 1 and out[s1_sorted[1]]["rn"] == 2
    assert out[4]["rn"] == 1


def test_lsh_sig_cache_bounded(spark):
    """ADVICE r5: lsh_near_dups must not leak one persisted signature
    frame per call — the registry evicts beyond the bound, and explicit
    unpersist_lsh_caches() empties it."""
    from opengemini_spark.datapipe import similarity
    from opengemini_spark.datapipe.similarity import (
        _LSH_SIG_CACHE, _LSH_SIG_CACHE_MAX, unpersist_lsh_caches,
    )

    unpersist_lsh_caches()
    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, 0.5, float(i % 2)]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    for _ in range(_LSH_SIG_CACHE_MAX + 2):
        similarity.lsh_near_dups(emb, 0.99, bands=4, rows_per_band=4,
                                 dim=4).count()
    assert len(_LSH_SIG_CACHE) <= _LSH_SIG_CACHE_MAX
    # (identical plans share one CacheManager entry, so per-handle
    # storageLevel is not a reliable probe — the bound is the contract)
    unpersist_lsh_caches()
    assert not _LSH_SIG_CACHE


def test_domain_cap_salted_identical(spark):
    """The two-phase salted domain cap must produce EXACTLY the unsalted
    result (the global top-cap is contained in the union of per-salt
    top-caps)."""
    from opengemini_spark.datapipe.curate import domain_cap

    rows = [(i, f"w{'x' * (i % 37)} text here", f"s{i % 3}")
            for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    plain = sorted(tuple(r) for r in domain_cap(docs, 15).collect())
    salted = sorted(tuple(r) for r in domain_cap(docs, 15, salt_buckets=8).collect())
    assert plain == salted and len(plain) == 45


def test_semantic_dedup_planted_clusters(spark):
    """Two tight semantic clusters + isolated vectors: within each
    above-threshold neighborhood only the lowest id survives; vectors
    without a lower-id close neighbor are kept."""
    import math

    def unit(theta):
        return [math.cos(theta), math.sin(theta), 0.0, 0.0]

    rows = [
        # ids 0..2 are the k-means seeds (lowest ids) — one per direction
        (0, unit(0.00)),                  # seed, cluster A
        (1, unit(math.pi / 2)),           # seed, cluster B
        (2, [0.0, 0.0, 1.0, 0.0]),        # seed, isolated
        # cluster A members: near-identical to id 0
        (3, unit(0.01)), (4, unit(0.02)),
        # cluster B member: near-identical to id 1
        (5, unit(math.pi / 2 + 0.01)),
        # orthogonal to everything — lands in some cell but below thr
        (6, [0.0, 0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.semantic_dedup(df, k=3, n_iter=2, threshold=0.95)
    kept = {r["vec_id"]: r["kept"] for r in out.collect()}
    assert kept == {0: True, 1: True, 2: True,
                    3: False, 4: False, 5: False, 6: True}
    # every vector appears exactly once with a cell assignment
    assert out.count() == 7
    assert out.filter(F.col("cell").isNull()).count() == 0


def test_adaptive_kmeans_k_scaling():
    """adaptive_kmeans_k (SemDeDup adaptive k, r6 verdict #2): k = ⌈√n⌉
    balances the coarse assignment (n·k) against the within-cell pair
    scan (n²/k) — both O(n^1.5); floor at k_min for small corpora."""
    import math

    from opengemini_spark.datapipe.similarity import adaptive_kmeans_k

    assert adaptive_kmeans_k(10) == 8            # k_min floor
    assert adaptive_kmeans_k(500) == 23          # ceil(sqrt(500))
    assert adaptive_kmeans_k(200_000) == 448     # the 100x point's k
    for n in (10_000, 1_000_000, 100_000_000):
        k = adaptive_kmeans_k(n)
        # assign and pair-scan work within 2x of each other = balanced
        assert 0.5 <= (n * k) / (n * n / k) <= 2.01
        assert k == math.ceil(math.sqrt(n))


def test_semantic_dedup_non_dense_ids(spark):
    """Seeding is rank-based (r6 advice): a corpus whose ids are NOT
    dense from 0 (e.g. a filtered frame) still seeds k real centroids
    and dedups correctly — with the old ``vid < k`` seeding this corpus
    would have seeded zero centroids and returned garbage."""
    import math

    def unit(theta):
        return [math.cos(theta), math.sin(theta), 0.0, 0.0]

    rows = [
        (1000, unit(0.00)), (1001, unit(0.01)), (1002, unit(0.02)),
        (2000, unit(math.pi / 2)), (2001, unit(math.pi / 2 + 0.01)),
        (3000, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.semantic_dedup(df, k=3, n_iter=2, threshold=0.95)
    kept = {r["vec_id"]: r["kept"] for r in out.collect()}
    assert kept == {1000: True, 1001: False, 1002: False,
                    2000: True, 2001: False, 3000: True}


def test_semantic_dedup_block_pairing_preserves_output(spark):
    """max_cell_task splits each cell's pair join into block pairs —
    the output must be IDENTICAL to the plain within-cell join (every
    unordered pair evaluated in exactly one block-pair task)."""
    import math

    rows = [
        (i, [math.cos(0.001 * i), math.sin(0.001 * i),
             float((i * 7) % 5) / 5.0, 1.0])
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    plain = sorted(
        tuple(r) for r in
        similarity.semantic_dedup(df, k=4, n_iter=2, threshold=0.9).collect()
    )
    blocked = sorted(
        tuple(r) for r in
        similarity.semantic_dedup(
            df, k=4, n_iter=2, threshold=0.9, max_cell_task=10
        ).collect()
    )
    assert plain == blocked and len(plain) == 120


def test_semantic_dedup_recursive_cell_split(spark):
    """split_cell_over (opt-in one-level refinement): an adversarial
    corpus whose low-id seeds sit OUTSIDE a tight high-id blob lands
    the whole blob in one Lloyd cell; the refinement re-clusters the
    hot mass so no refined cell stays pathological, every vector still
    appears exactly once, and the planted near-identical dup structure
    is still caught within the refined cells."""
    import math
    import random

    rng = random.Random(42)
    rows = []
    # 60 scattered low-id vectors (these become the k-means seeds)
    for i in range(60):
        v = [rng.gauss(0, 1) for _ in range(8)]
        rows.append((i, v))
    # a tight 900-vector blob at high ids, far from every seed:
    # base direction + small noise, plus planted exact dups
    base = [5.0, 5.0, 5.0, 5.0, 0.1, 0.1, 0.1, 0.1]
    for i in range(900):
        v = [b + rng.gauss(0, 0.02) for b in base]
        rows.append((1000 + i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    plain = similarity.semantic_dedup(df, k=30, n_iter=2, threshold=0.9999)
    sizes = (
        plain.groupBy("cell").count().orderBy(F.col("count").desc()).collect()
    )
    assert sizes[0]["count"] >= 900, "fixture not adversarial"

    split = similarity.semantic_dedup(
        df, k=30, n_iter=2, threshold=0.9999, split_cell_over=200
    )
    ssizes = (
        split.groupBy("cell").count().orderBy(F.col("count").desc()).collect()
    )
    # the hot mass is spread over ~sqrt(900) refined cells
    assert ssizes[0]["count"] < 300, ssizes[:3]
    assert split.count() == 960
    assert split.filter(F.col("cell").isNull()).count() == 0
    # determinism: same inputs -> same refined assignment + kept set
    again = similarity.semantic_dedup(
        df, k=30, n_iter=2, threshold=0.9999, split_cell_over=200
    )
    assert sorted(map(tuple, split.collect())) == \
        sorted(map(tuple, again.collect()))


def test_pq_codebooks_non_dense_ids(spark):
    """pq_codebooks seeds code = rank-1 over id order (r6 advice): a
    filtered corpus with no ids below ksub still yields ksub full
    codebooks and every vector gets a code."""
    import random

    rng = random.Random(7)
    rows = [
        (10_000 + 13 * i, [rng.uniform(-1, 1) for _ in range(64)])
        for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    codes, books = similarity.pq_codebooks(emb)
    assert books.select("m", "code").distinct().count() == \
        similarity.PQ_M * similarity.PQ_KSUB
    assert codes.count() == 40 * similarity.PQ_M


def test_span_dedup_planted_spans(spark):
    """Keep-first semantics at span granularity: cross-doc repeated
    span removed from the later doc only; a full-copy doc empties out;
    sub-k docs untouched; within-doc repeats keep the first window."""
    docs = spark.createDataFrame(
        [
            (0, "a b c d e f"),            # owner of "a b c d"
            (1, "x x a b c d y"),          # repeats it at pos 2
            (2, "a b c d e f"),            # full copy -> all removed
            (3, "short one"),              # < k tokens, no windows
            (4, "p q r s p q r s"),        # within-doc repeat
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["clean_text"], r["n_removed"])
           for r in dedup.span_dedup(docs, k=4).collect()}
    assert out[0] == ("a b c d e f", 0)
    assert out[1] == ("x x y", 4)
    assert out[2] == ("", 6)
    assert out[3] == ("short one", 0)
    assert out[4] == ("p q r s", 4)


def test_image_dhash_banded_matches_brute_force(spark):
    """dHash pairs from the 16-bit-band pigeonhole join must equal the
    exact all-pairs hamming computation; identical images hash equal."""
    ids = spark.createDataFrame(
        [(i,) for i in range(0, 120, 3)], "doc_id long"
    )
    imgs = multimodal.synth_png(ids)
    hashes = {r["doc_id"]: r["dhash"]
              for r in multimodal.image_dhash(imgs).collect()}
    assert len(hashes) == 40

    def ham(a, b):  # popcount of the 64-bit two's-complement xor
        return bin((hashes[a] ^ hashes[b]) & (1 << 64) - 1).count("1")

    for max_h in (2, 3):  # 3 = the 4-band pigeonhole bound
        want = {
            (a, b, ham(a, b))
            for a in hashes for b in hashes
            if a < b and ham(a, b) <= max_h
        }
        got = {tuple(r) for r in multimodal.image_dhash_near_dups(
            imgs, max_hamming=max_h).collect()}
        assert got == want and want  # non-vacuous
    # same id twice -> identical PNG bytes -> identical hash
    dup = multimodal.synth_png(
        spark.createDataFrame([(9,), (9,)], "doc_id long")
    )
    hs = [r["dhash"] for r in multimodal.image_dhash(dup).collect()]
    assert hs[0] == hs[1]


def test_audio_fingerprint_banded_matches_brute_force(spark):
    """Contour fingerprint pairs from the 12-bit-band pigeonhole join
    equal exact all-pairs hamming; identical clips hash equal; a short
    clip still hashes (fewer bits) without crashing."""
    ids = spark.createDataFrame(
        [(i,) for i in range(0, 200, 5)], "doc_id long"
    )
    clips = multimodal.synth_wav(ids)
    fps = {r["doc_id"]: r["afp"]
           for r in multimodal.audio_fingerprint(clips).collect()}
    assert len(fps) == 40
    for max_h in (2, 3):  # 3 = the 4-band pigeonhole bound
        want = {
            (a, b, bin(fps[a] ^ fps[b]).count("1"))
            for a in fps for b in fps
            if a < b and bin(fps[a] ^ fps[b]).count("1") <= max_h
        }
        got = {tuple(r) for r in multimodal.audio_fingerprint_near_dups(
            clips, max_hamming=max_h).collect()}
        assert got == want and want
    # n_frames > available full frames: hash over what exists
    short = multimodal.audio_fingerprint(
        multimodal.synth_wav(
            spark.createDataFrame([(3,)], "doc_id long")),
        frame=64, n_frames=48,
    ).collect()
    assert len(short) == 1 and short[0]["afp"] >= 0


def test_media_near_dups_decode_once_lazily(spark, spark_jobs):
    """Building the dHash / audio near-dup frames runs no Spark job, and
    the executed plan decodes the media in exactly one MapInPandas."""
    cases = [
        (multimodal.image_dhash_near_dups,
         multimodal.synth_png(spark.createDataFrame(
             [(i,) for i in range(0, 120, 3)], "doc_id long"))),
        (multimodal.audio_fingerprint_near_dups,
         multimodal.synth_wav(spark.createDataFrame(
             [(i,) for i in range(0, 200, 5)], "doc_id long"))),
    ]
    for near_dups, media in cases:
        df, jobs = spark_jobs(
            lambda nd=near_dups, m=media: nd(m, max_hamming=2)
        )
        assert jobs == [], f"{near_dups.__name__} ran jobs at build"
        assert df.collect()
        # the AQE plan as executed (final stages, not the initial plan)
        plan = df._jdf.queryExecution().executedPlan().executedPlan()
        assert plan.toString().count("MapInPandas") == 1, plan.toString()


def test_video_container_walk_and_keyframes(spark):
    """The synth container is a REAL parseable stream: every frame
    round-trips through the PNG decode; frame 0 is always a keyframe,
    diff sums match a direct numpy recomputation."""
    import numpy as np

    ids = spark.createDataFrame([(0,), (13,), (40,)], "doc_id long")
    out = multimodal.video_keyframes(multimodal.synth_video(ids)).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for d, rows in by_doc.items():
        rows.sort(key=lambda r: r["frame_id"])
        assert len(rows) == 3 + d % 4
        assert rows[0]["is_key"] and rows[0]["diff_sum"] == 0
        w, h = 8 + d % 9, 5 + d % 7
        y, x = np.mgrid[0:h, 0:w]
        prev = None
        for r in rows:
            img = (d * 7 + r["frame_id"] * 11 + y * 31 + x * 17) % 256
            assert r["content_sum"] == int(img.sum())
            if prev is not None:
                assert r["diff_sum"] == int(np.abs(img - prev).sum())
                assert r["is_key"] == (r["diff_sum"] > 20 * w * h)
            prev = img


def test_nb_classifier_separates_planted_classes(spark):
    """Two trivially separable vocabularies: the self-trained hashed-NB
    model must predict the training labels perfectly, and the split
    train/apply form must score an unseen doc onto the right side."""
    from opengemini_spark.datapipe import models

    pos = ["alpha beta gamma delta alpha beta", "beta gamma alpha delta beta"]
    neg = ["omega psi chi phi omega psi", "psi chi omega phi chi psi"]
    rows = [(i, t, True) for i, t in enumerate(pos)] + [
        (i + 10, t, False) for i, t in enumerate(neg)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "is_good"])

    out = {
        r["doc_id"]: r
        for r in models.quality_classifier(docs, "is_good").collect()
    }
    assert len(out) == 4
    for i in (0, 1):
        assert out[i]["predicted"] and out[i]["score"] > 0.5
    for i in (10, 11):
        assert not out[i]["predicted"] and out[i]["score"] < 0.5
    # raw_milli is the integer milli-nat sum: exact, order-free
    assert all(isinstance(r["raw_milli"], int) for r in out.values())

    weights, prior = models.nb_train(docs, "is_good")
    unseen = spark.createDataFrame(
        [(99, "gamma alpha beta gamma", True)], ["doc_id", "text", "is_good"]
    )
    scored = models.nb_score(unseen, weights, prior, "is_good").collect()
    assert scored[0]["predicted"] and scored[0]["score"] > 0.5


def test_rrf_fusion_rewards_cross_list_agreement(spark):
    """A doc ranked mid-list by BOTH retrievers must outscore a doc
    that only one retriever ranked first: 1/62+1/62 > 1/61."""
    from opengemini_spark.datapipe.retrieval import rrf_fuse

    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], ["doc_id", "rank"])
    b = spark.createDataFrame([(9, 1), (2, 2), (4, 3)], ["doc_id", "rank"])
    out = rrf_fuse([a, b], k=10).collect()
    ranks = {r["doc_id"]: r["rank"] for r in out}
    scores = {r["doc_id"]: r["score"] for r in out}
    assert ranks[2] == 1                       # in both lists → wins
    assert abs(scores[2] - 2 / 62) < 1e-6
    assert abs(scores[1] - 1 / 61) < 1e-6      # single-list rank 1
    assert set(ranks) == {1, 2, 3, 4, 9}
    # deterministic tie-break: docs 1 and 9 tie (rank 1 each) → id asc
    assert ranks[1] < ranks[9]


def test_ivfpq_codes_shape_and_recall(spark):
    """PQ encoding must emit exactly M codes per vector (each < ksub),
    and ADC top-k must recover a solid share of the exact cosine top-k
    on clusterable synthetic data."""
    import numpy as np

    rng = np.random.RandomState(7)
    centers = rng.standard_normal((4, 64)) * 3
    rows = []
    for vid in range(80):
        v = centers[vid % 4] + rng.standard_normal(64) * 0.3
        rows.append((vid, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])

    codes, books = similarity.pq_codebooks(emb)
    per_vec = codes.groupBy("vid").count().collect()
    assert all(r["count"] == similarity.PQ_M for r in per_vec)
    assert codes.filter(
        (F.col("code") < 0) | (F.col("code") >= similarity.PQ_KSUB)
    ).count() == 0
    assert books.count() == similarity.PQ_M * similarity.PQ_KSUB

    queries = emb.filter(F.col("vec_id") < 2)
    approx = similarity.ivfpq_topk(emb, queries, 10, nlist=4, nprobe=2)
    exact = similarity.cosine_topk(emb, queries, 10)
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    # 4-cell / 2-probe routing over 4 planted clusters: the true
    # neighbors live in the probed cells, ADC ranks them close enough
    assert len(a & e) / len(e) >= 0.5


def test_ivfpq_prebuilt_index_matches_inline(spark):
    """ivfpq_build amortizes the one corpus-shuffling join: serving from
    the prebuilt (index, books, cents) must return exactly the inline
    result."""
    import numpy as np

    rng = np.random.RandomState(11)
    rows = [
        (vid, [float(x) for x in rng.standard_normal(64)]) for vid in range(60)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = emb.filter(F.col("vec_id") < 2)

    inline = similarity.ivfpq_topk(emb, queries, 5, nlist=4, nprobe=2)
    index, books, cents = similarity.ivfpq_build(emb, nlist=4)
    served = similarity.ivfpq_topk(
        emb, queries, 5, nlist=4, nprobe=2,
        index=index, books=books, cents=cents,
    )
    a = sorted(map(tuple, inline.collect()), key=lambda t: (t[0], t[3]))
    b = sorted(map(tuple, served.collect()), key=lambda t: (t[0], t[3]))
    assert a == b


def test_nb_train_frac_samples_deterministically(spark):
    """train_frac trains on a reproducible hash-sample: same frac, same
    weights; smaller frac, fewer (or equal) populated buckets; the model
    still separates the planted vocabularies."""
    from opengemini_spark.datapipe import models

    rows = []
    for i in range(40):
        good = i % 2 == 0
        text = ("alpha beta gamma delta " if good else "omega psi chi phi ") * 3
        rows.append((i, text, good))
    docs = spark.createDataFrame(rows, "doc_id long, text string, y boolean")

    w_full, p_full = models.nb_train(docs, "y")
    w_a, p_a = models.nb_train(docs, "y", train_frac=0.5)
    w_b, p_b = models.nb_train(docs, "y", train_frac=0.5)
    assert sorted(map(tuple, w_a.collect())) == sorted(map(tuple, w_b.collect()))
    assert w_a.count() <= w_full.count()
    assert 0 < p_a.collect()[0]["n_pos"] + p_a.collect()[0]["n_neg"] < 40

    out = {
        r["doc_id"]: r["predicted"]
        for r in models.nb_score(docs, w_a, p_a, "y").collect()
    }
    assert all(out[i] == (i % 2 == 0) for i in out)


def test_hash_embedding_unit_norm_and_similarity(spark):
    """Hashing-trick embeddings: unit L2 norm, identical texts map to
    identical vectors, disjoint vocabularies are (near-)orthogonal,
    and the vectors compose with the similarity stack."""
    from opengemini_spark.datapipe import text as t

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),
        (3, "omega psi chi phi upsilon tau"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    embs = {r["doc_id"]: r["emb"] for r in t.hash_embedding(df).collect()}
    for v in embs.values():
        assert abs(sum(x * x for x in v) - 1.0) < 1e-4
        assert len(v) == t.HE_DIM
    assert embs[1] == embs[2]
    cos13 = sum(a * b for a, b in zip(embs[1], embs[3]))
    assert abs(cos13) < 0.5  # disjoint vocab → far from parallel


def test_ivfpq_rerank_converges_to_exact_ivf(spark, sf_dir):
    """With an exhaustive shortlist the ADC stage only selects
    candidates, so two-stage IVF-PQ must equal ivf_topk_kmeans exactly
    (same cells, same probes, same 4 dp cosine and tie-breaks); with a
    small shortlist it still returns k exact-scored rows."""
    from opengemini_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    queries = emb.filter(F.col("vec_id") < 2)

    exact_ivf = similarity.ivf_topk_kmeans(
        emb, queries, 5, nlist=4, nprobe=2, n_iter=1
    )
    two_stage = similarity.ivfpq_topk(
        emb, queries, 5, nlist=4, nprobe=2, coarse_iter=1, rerank=10_000
    )
    a = sorted(map(tuple, exact_ivf.collect()))
    b = sorted(map(tuple, two_stage.collect()))
    assert a == b and a

    small = similarity.ivfpq_topk(
        emb, queries, 5, nlist=4, nprobe=2, coarse_iter=1, rerank=8
    )
    rows = small.collect()
    assert {r["query_id"] for r in rows} == {0, 1}
    assert all(r["rank"] <= 5 for r in rows)


def test_novelty_signals_boilerplate_vs_original(spark):
    """A shared template block drives novelty down; fully original prose
    scores 1.0; sub-k docs produce no row."""
    from opengemini_spark.datapipe import text as t

    boiler = "all rights reserved contact us terms of service"
    rows = [
        (1, boiler + " page one content here"),
        (2, boiler + " totally different body text"),
        (3, "completely original prose nobody else wrote today"),
        (4, "xy"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in t.novelty_signals(df).collect()}
    assert 4 not in out                      # shorter than k tokens
    assert out[3]["novelty"] == 1.0
    assert out[1]["novelty"] < 1.0 and out[2]["novelty"] < 1.0
    # the shared 8-token template contributes 6 non-novel shingles
    assert out[1]["n_novel"] < out[1]["n_shingles"]


def test_span_decontaminate_removes_benchmark_quotes(spark):
    """A verbatim benchmark quote inside a train doc is excised (its
    overlapping spans chain) while surrounding original text survives;
    clean docs pass through untouched."""
    from opengemini_spark.datapipe.corpus import span_decontaminate

    quote = "what is the capital of france the answer is paris"  # 10 toks
    train = spark.createDataFrame(
        [
            (1, "intro words here " + quote + " closing words here"),
            (2, "totally clean document with original content only"),
        ],
        ["doc_id", "text"],
    )
    holdout = spark.createDataFrame([(100, quote)], ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in span_decontaminate(train, holdout, k=5).collect()
    }
    assert out[2]["n_removed"] == 0
    assert "capital" not in out[1]["clean_text"]
    assert out[1]["clean_text"].startswith("intro words here")
    assert out[1]["clean_text"].endswith("closing words here")
    assert out[1]["n_removed"] == 10


def test_extract_blocks_crafted_html(spark):
    """Crafted page: script with a literal '<', style, comments, mixed
    case tags, entities, and a link-only nav — every keep decision
    asserted by hand against the jusText-class rules."""
    html = (
        "<HTML><head><TITLE>t</TITLE>"
        "<script type='x'>if (1 < 2) { alert('<p>not a block</p>'); }</script>"
        "<style>p { margin: 0 }</style></head><body>"
        "<DIV class='nav'><a href='/'>home</a> <a href='/x'>docs</a></DIV>"
        "<!-- a comment with <p> inside -->"
        "<P>This paragraph has enough characters to pass the length gate"
        " and no links at all.</P>"
        "<p>Entities: fish &amp; chips &lt;tag&gt; &quot;quoted&quot;"
        " &#39;single&#39; and plenty of padding words to pass.</p>"
        "<p>short one</p>"
        "<div>A block whose text is long enough but which is mostly"
        " anchor: <a href='/y'>this enormous link text takes up nearly"
        " the whole block content of the div</a></div>"
        "</body></html>"
    )
    df = spark.createDataFrame([(7, html)], "doc_id long, html string")
    rows = {r["block_idx"]: r for r in text.extract_blocks(df).collect()}
    texts = {i: r["block_text"] for i, r in rows.items()}
    # script/style/comment content never leaks into any block
    assert not any("alert" in t or "margin" in t or "comment" in t
                   for t in texts.values())
    by_text = {r["block_text"]: r for r in rows.values()}
    nav = by_text["home docs"]
    assert nav["link_milli"] == 1000 and not nav["kept"]
    para = by_text[
        "This paragraph has enough characters to pass the length gate"
        " and no links at all."
    ]
    assert para["kept"] and para["link_milli"] == 0
    ent = next(t for t in texts.values() if "fish & chips" in t)
    assert '<tag> "quoted" \'single\'' in ent
    assert not by_text["short one"]["kept"]          # length gate
    linky = next(r for t, r in by_text.items() if t.startswith("A block"))
    assert linky["link_milli"] > 330 and not linky["kept"]


def test_extract_blocks_quoted_attr_gt(spark):
    """'>' inside a QUOTED attribute value must not truncate the tag
    match (r7 verdict "what's wrong" #4): <a title="a>b"> used to shed
    'b">' into the block text; same for double- and single-quoted
    attributes on block tags, anchors, and script tags."""
    html = (
        '<html><body>'
        '<script data-x="1 > 0">var y = 2 > 1;</script>'
        '<p class="big>wide" id=\'x>y\'>This sentence is long enough to'
        ' pass the keep gate with no attribute fragments leaking.</p>'
        '<p>An anchor <a href="/q?a>b" title=\'c>d\'>link text</a> plus'
        ' more than enough padding words to pass the length gate.</p>'
        '</body></html>'
    )
    df = spark.createDataFrame([(3, html)], "doc_id long, html string")
    rows = text.extract_blocks(df).collect()
    texts = [r["block_text"] for r in rows]
    # no attribute fragments shed into any block, no script body leaks
    joined = " ".join(texts)
    assert 'b">' not in joined and "wide" not in joined
    assert "x>y" not in joined and "c>d" not in joined
    assert "var y" not in joined
    first = next(t for t in texts if t.startswith("This sentence"))
    assert first == (
        "This sentence is long enough to pass the keep gate with no"
        " attribute fragments leaking."
    )
    # the anchor's text still counts toward link density
    anchor_blk = next(r for r in rows if "link text" in r["block_text"])
    assert anchor_blk["link_milli"] > 0


def test_html_attr_span_possessive_equivalence(spark):
    """The engine's possessive-quantifier tag regexes (r9: restore the
    [^>]*-class scan speed the r8 quote-aware alternation gave up) match
    EXACTLY the same spans as the oracle's RE2-safe per-char alternation
    — the alternatives are first-char-disjoint, so decomposition is
    unique and possessiveness cannot change the language. Checked two
    ways: every pattern pair over adversarial fixtures in Python's
    backtracking engine (same family as java.util.regex), and the
    full extract_blocks output under both spellings through Spark."""
    import random
    import re as _re
    import string as _string

    cases = [
        '<a title="a>b">x</a>',
        '<div id="nav"><a href="/">home</a></div>',
        "<p class='x'>hi</p>",
        '<div attr=aaaa">unbalanced quote then text',
        "<div attr='oops>more text",
        '<span data-x="1" data-y=\'2\'>t</span>',
        '<script>var x = 1 < 2; // <div></script>after',
        '<a href="x" title="y>z">link text</a> tail',
        '<<>> <a>< b > <img src="a.png"/>',
    ]
    rng = random.Random(7)
    alphabet = "<>\"'" + _string.ascii_lowercase + " =/"
    cases += [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 120)))
        for _ in range(300)
    ]
    pairs = [
        (text.HTML_TAG_RE, text.HTML_TAG_RE_RE2),
        (text.HTML_SCRIPT_RE, text.HTML_SCRIPT_RE_RE2),
        (text.HTML_STYLE_RE, text.HTML_STYLE_RE_RE2),
        (text.HTML_BLOCK_SPLIT_RE, text.HTML_BLOCK_SPLIT_RE_RE2),
        (text.HTML_LINK_RE, text.HTML_LINK_RE_RE2),
    ]
    for possessive, re2 in pairs:
        rn, ro = _re.compile(possessive), _re.compile(re2)
        for c in cases:
            assert [m.span() for m in rn.finditer(c)] == [
                m.span() for m in ro.finditer(c)
            ], (possessive, c)

    # Java-side: extract_blocks under the possessive patterns equals a
    # literal re-run of the same plan with the RE2 spellings substituted
    html_rows = [(i, c) for i, c in enumerate(cases[:40])]
    df = spark.createDataFrame(html_rows, "doc_id long, html string")
    got = text.extract_blocks(df).collect()
    saved = (
        text.HTML_SCRIPT_RE, text.HTML_STYLE_RE, text.HTML_BLOCK_SPLIT_RE,
        text.HTML_TAG_RE, text.HTML_LINK_RE,
    )
    try:
        (text.HTML_SCRIPT_RE, text.HTML_STYLE_RE, text.HTML_BLOCK_SPLIT_RE,
         text.HTML_TAG_RE, text.HTML_LINK_RE) = (
            text.HTML_SCRIPT_RE_RE2, text.HTML_STYLE_RE_RE2,
            text.HTML_BLOCK_SPLIT_RE_RE2, text.HTML_TAG_RE_RE2,
            text.HTML_LINK_RE_RE2,
        )
        want = text.extract_blocks(df).collect()
    finally:
        (text.HTML_SCRIPT_RE, text.HTML_STYLE_RE, text.HTML_BLOCK_SPLIT_RE,
         text.HTML_TAG_RE, text.HTML_LINK_RE) = saved
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_extract_text_all_boilerplate_doc(spark):
    """A pure-boilerplate page yields clean_text='' with n_kept=0 (the
    downstream quality gate drops it), not a missing row."""
    html = ("<html><body><div><a href='/'>x</a> <a href='/y'>y</a></div>"
            "<p>hi</p></body></html>")
    df = spark.createDataFrame([(1, html)], "doc_id long, html string")
    out = text.extract_text(df).collect()
    assert len(out) == 1
    r = out[0]
    assert r["clean_text"] == "" and r["n_kept"] == 0 and r["n_blocks"] == 2
    assert r["clean_chars"] == 0


def test_extract_text_order_preserved(spark):
    """Kept blocks concatenate in document order."""
    html = ("<p>first paragraph with plenty of characters in it ok</p>"
            "<p>no</p>"
            "<p>second paragraph also has plenty of characters here</p>")
    df = spark.createDataFrame([(1, html)], "doc_id long, html string")
    r = text.extract_text(df).collect()[0]
    assert r["clean_text"] == (
        "first paragraph with plenty of characters in it ok"
        " second paragraph also has plenty of characters here"
    )
    assert r["n_blocks"] == 3 and r["n_kept"] == 2


_BPE_TEXTBOOK = (
    "low low low low low lower lower newest newest newest widest widest"
)


def _bpe_oracle_rows(sql: str, docs: list[tuple[int, str]] | None = None,
                     sf_dir: str | None = None, max_doc_id: int = 0):
    """Run a BPE oracle query in DuckDB over the same ``documents`` rows
    the engine sees: either literal ``(doc_id, text)`` rows or the
    fixture's documents with ``doc_id < max_doc_id``."""
    import duckdb

    con = duckdb.connect()
    if docs is not None:
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
    else:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{sf_dir}/documents.parquet') WHERE doc_id < {max_doc_id}"
        )
    return con.execute(sql).fetchall()


def test_bpe_train_textbook_merges(spark):
    """Sennrich's worked example shape: 'low'-family corpus learns
    (l,o) -> (lo,w) -> (e,s) -> (es,t) in exactly that order."""
    from opengemini_spark.datapipe import bpe

    docs = spark.createDataFrame(
        [(1, _BPE_TEXTBOOK)], "doc_id long, text string"
    )
    assert bpe.bpe_train_local(docs, n_merges=4) == [
        ("l", "o", 7), ("lo", "w", 7), ("e", "s", 5), ("es", "t", 5)]


def test_bpe_greedy_run_parity(spark):
    """Greedy left-to-right on equal-symbol runs: merging (a,a) over
    'aaaa' gives 'aa aa', over 'aaa' gives 'aa a' — the run-parity
    window must reproduce the sequential scan exactly."""
    from opengemini_spark.datapipe import bpe

    docs = spark.createDataFrame(
        [(1, "aaaa aaaa aaa")], "doc_id long, text string"
    )
    assert bpe.bpe_train_local(docs, n_merges=1)[0][:2] == ("a", "a")
    out = bpe.bpe_apply_merges(docs, [("a", "a")]).collect()[0]
    assert out["bpe_text"] == "aa aa aa aa aa a"
    assert out["n_bpe_tokens"] == 6


def test_bpe_local_trainer_equals_oracle(spark, sf_dir):
    """The driver-local trainer is pinned bit-equal to the DuckDB
    full-replay oracle of ``text_bpe_merges`` over the same rows:
    identical merge list INCLUDING counts, on both the textbook corpus
    and the sf0.001 fixture, and at a budget that outruns the
    vocabulary (early-stop parity: 12 merges exhaust the textbook
    words, so both sides stop at 12)."""
    from opengemini_spark import suite_datapipe as sd
    from opengemini_spark.catalog import load_table
    from opengemini_spark.datapipe import bpe

    textbook = [(1, _BPE_TEXTBOOK)]
    textbook_df = spark.createDataFrame(textbook, "doc_id long, text string")
    for docs, src, budget, n_learned in (
        (textbook_df, dict(docs=textbook), 4, 4),
        (textbook_df, dict(docs=textbook), 16, 12),
        (load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60),
         dict(sf_dir=sf_dir, max_doc_id=60), 12, 12),
    ):
        oracle = [(a, b, cnt) for _, a, b, cnt in sorted(
            _bpe_oracle_rows(sd._bpe_merges_oracle(budget), **src))]
        local = bpe.bpe_train_local(docs, n_merges=budget)
        assert local == oracle, (budget, local[:5], oracle[:5])
        assert len(local) == n_learned


def _bpe_encode_oracle(sf_dir):
    """Sorted rows of the DuckDB replay of the ``text_bpe_encode`` oracle
    shape at 8 merges over ``doc_id < 60``."""
    from opengemini_spark import suite, suite_datapipe as sd

    registered = suite.oracle_sql()["text_bpe_encode"]
    assert registered.startswith(sd._bpe_wenc_sql())
    sql = sd._bpe_wenc_sql(8) + registered[len(sd._bpe_wenc_sql()):]
    oracle = sorted(_bpe_oracle_rows(sql, sf_dir=sf_dir, max_doc_id=60))
    assert oracle
    return oracle


def test_bpe_encode_vocab_row_identical(spark, sf_dir):
    """The broadcast word->subwords table the suite entries run is
    row-identical to the DuckDB replay of the ``text_bpe_encode`` oracle
    shape at 8 merges over the same rows."""
    from opengemini_spark.catalog import load_table
    from opengemini_spark.datapipe import bpe

    oracle = _bpe_encode_oracle(sf_dir)
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    _, vocab = bpe.bpe_train_local_full(docs, n_merges=8)
    df = bpe.bpe_encode_vocab(docs, vocab)
    assert df.columns == ["doc_id", "n_bpe_tokens", "bpe_text"]
    assert sorted(map(tuple, df.collect())) == oracle


def test_bpe_encode_frozen_local_merges_row_identical(spark, sf_dir):
    """The frozen-merge apply chain over the local trainer's merges is
    row-identical to the same DuckDB replay."""
    from opengemini_spark.catalog import load_table
    from opengemini_spark.datapipe import bpe

    oracle = _bpe_encode_oracle(sf_dir)
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    merges = bpe.bpe_train_local(docs, n_merges=8)
    assert len(merges) == 8
    df = bpe.bpe_apply_merges(docs, [(a, b) for a, b, _ in merges])
    assert df.columns == ["doc_id", "n_bpe_tokens", "bpe_text"]
    assert sorted(map(tuple, df.collect())) == oracle


def test_bpe_merges_entry_runs_few_jobs(spark, sf_dir, spark_jobs):
    """The registered text_bpe_merges entry trains with one vocabulary
    collect, not a Spark job chain per merge (>= 3 jobs x 16 merges)."""
    from opengemini_spark import suite

    fn = suite.queries()["text_bpe_merges"]
    rows, ids = spark_jobs(lambda: fn(spark, sf_dir).collect())
    jobs = len(ids)
    assert [r["step"] for r in rows] == list(range(1, len(rows) + 1))
    assert len(rows) == 16
    assert jobs < 10, jobs


def test_bpe_local_trainer_vocab_bound_raises(spark):
    """The vocab collect is loudly bounded: exceeding max_vocab raises
    instead of silently hauling a corpus-sized frame to the driver."""
    import pytest

    from opengemini_spark.datapipe import bpe

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="max_vocab"):
        bpe.bpe_train_local(docs, n_merges=2, max_vocab=3)


def test_bpe_apply_merges_lazy_plan_no_jobs(spark, spark_jobs):
    """The frozen-merge apply chain must not launch Spark jobs at plan
    time (the trainer's per-merge argmax probes were the 8.9 s bench
    cost); only the caller's action executes."""
    from opengemini_spark.datapipe import bpe

    docs = spark.createDataFrame(
        [(1, "low low lower newest widest")], "doc_id long, text string"
    )
    df, jobs = spark_jobs(
        lambda: bpe.bpe_apply_merges(docs, [("l", "o"), ("lo", "w"), ("e", "s")])
    )
    assert jobs == [], "plan construction launched Spark jobs"
    out = {r["doc_id"]: r["bpe_text"] for r in df.collect()}
    assert out[1] == "low low low e r n e w es t w i d es t"


def test_bpe_apply_merges_heldout_unseen_words(spark):
    """Serving on HELD-OUT text: bpe_apply_merges encodes words never
    seen in training by replaying the frozen merge rules (the contract
    bpe_encode_vocab cannot serve — its lookup table only covers
    training words and its inner join DROPS unseen words)."""
    from opengemini_spark.datapipe import bpe

    train = spark.createDataFrame(
        [(1, "low low low lower lowest")], "doc_id long, text string"
    )
    merges = [(a, b) for a, b, _ in bpe.bpe_train_local(train, n_merges=2)]
    assert merges == [("l", "o"), ("lo", "w")]
    # held-out doc: 'slow' and 'glow' contain the trained (l,o)/(lo,w)
    # patterns inside UNSEEN words; 'held' shares no merge at all
    held = spark.createDataFrame(
        [(9, "slow glow held")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in
           bpe.bpe_apply_merges(held, merges).collect()}
    assert out[9]["bpe_text"] == "s low g low h e l d"
    assert out[9]["n_bpe_tokens"] == 8
    # the vocab-table form drops the unseen words (documented contract)
    _, vocab = bpe.bpe_train_local_full(train, n_merges=2)
    assert bpe.bpe_encode_vocab(held, vocab).count() == 0


def test_bpe_pack_counts_keep_empty_docs(spark):
    """Packing must not lose docs: a token-free document has no
    bpe_encode_vocab row, and pack_sequences' coverage left-join still
    packs it with count 0 (the q_curate_pack_bpe composition)."""
    from opengemini_spark.datapipe import bpe, corpus

    docs = spark.createDataFrame(
        [(1, "hello world hello"), (2, "!!! ...")],
        "doc_id long, text string",
    )
    _, vocab = bpe.bpe_train_local_full(docs, n_merges=2)
    counts = bpe.bpe_encode_vocab(docs, vocab).select(
        "doc_id", F.col("n_bpe_tokens").alias("n_subwords")
    )
    assert {r["doc_id"] for r in counts.collect()} == {1}
    out = {r["doc_id"]: r["n_subwords"] for r in corpus.pack_sequences(
        docs, budget=64, n_buckets=4, counts=counts).collect()}
    assert set(out) == {1, 2} and out[2] == 0 and out[1] > 0


def test_ann_recall_floors_at_production_settings(spark, sf_dir):
    """Recall@10 vs brute-force ground truth at PRODUCTION settings
    (small nprobe, small rerank) — the check bit-exact replay cannot do:
    a silent pruning bug (wrong cell routed, shortlist truncated before
    rerank) tanks recall while still replaying deterministically.

    Floors are pinned against the sf0.01 fixture, whose embeddings are
    RANDOM vectors — the worst case for ANN (no cluster structure, so
    the IVF cell ceiling at nprobe=4/8 is itself ~0.78). Everything is
    seeded/deterministic, so the floors sit just under the measured
    values (0.784 / 0.544 / 0.703): a regression of more than ~0.03
    absolute recall fails."""
    from opengemini_spark.catalog import load_table
    from opengemini_spark.datapipe import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 32)
    truth = {
        (r["query_id"], r["vec_id"])
        for r in sim.cosine_topk(emb, qs, 10).collect()
    }

    def recall(df) -> float:
        got = {(r["query_id"], r["vec_id"]) for r in df.collect()}
        return len(got & truth) / len(truth)

    r_ivf = recall(sim.ivf_topk_kmeans(emb, qs, 10, nlist=8, nprobe=4))
    assert r_ivf >= 0.75, f"ivf_topk_kmeans(nprobe=4) recall@10={r_ivf}"
    r_pq = recall(
        sim.ivfpq_topk(emb, qs, 10, nlist=8, nprobe=4, rerank=32)
    )
    assert r_pq >= 0.50, f"ivfpq(nprobe=4, rerank=32) recall@10={r_pq}"
    r_pq_deep = recall(
        sim.ivfpq_topk(emb, qs, 10, nlist=8, nprobe=6, rerank=64)
    )
    assert r_pq_deep >= 0.65, (
        f"ivfpq(nprobe=6, rerank=64) recall@10={r_pq_deep}"
    )
    # deeper probing/rerank must not hurt (monotonicity sanity)
    assert r_pq_deep >= r_pq


def test_lsh_prefix_shared_banding_exact_dup_regime(spark):
    """Prefix-shared banding (the 10000x explode-shuffle lever): for
    exact/near-identical dups every signature bit agrees, so the
    grouped variant finds the identical pair set as independent bands
    while shipping one bucket row per (vector, group) instead of one
    per band."""
    import random

    rng = random.Random(11)
    rows = []
    for i in range(150):
        v = [rng.uniform(-1, 1) for _ in range(64)]
        rows.append((2 * i, v))
        rows.append((2 * i + 1, list(v)))  # exact copy -> cosine 1.0
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    base = sorted(
        tuple(r) for r in similarity.lsh_near_dups(
            emb, 0.99, bands=14, rows_per_band=14, dim=64
        ).collect()
    )
    pre = sorted(
        tuple(r) for r in similarity.lsh_near_dups(
            emb, 0.99, bands=14, rows_per_band=14, dim=64,
            prefix_group_size=7, prefix_bits=12,
        ).collect()
    )
    assert base == pre
    assert len(base) == 150  # every planted pair found by both


def test_kmeans_arrow_assign_bit_identical(spark, sf_dir):
    """The BLAS-blocked Arrow assignment must reproduce the JVM fold's
    assignments and centroids EXACTLY (same sequential-dim accumulation
    -> same doubles -> same argmax), so switching paths by corpus size
    can never flip an oracle."""
    from opengemini_spark.catalog import load_table
    from opengemini_spark.datapipe import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    a_j, c_j = similarity.kmeans_cells(emb, k=23, n_iter=2)
    a_a, c_a = similarity.kmeans_cells(emb, k=23, n_iter=2,
                                       arrow_assign=True)
    assert sorted(map(tuple, a_j.collect())) == \
        sorted(map(tuple, a_a.collect()))
    assert sorted(map(tuple, c_j.collect())) == \
        sorted(map(tuple, c_a.collect()))


# --- r8 late additions: URL dedup, paragraph dedup, normalize, shuffle -----


def test_url_canonicalize_merges_crawl_variants(spark):
    from opengemini_spark.datapipe import web

    base = spark.createDataFrame(
        [(i,) for i in range(8)], ["doc_id"]
    )
    canon = web.canonicalize_urls(web.synth_urls(base)).collect()
    by_group = {}
    for r in canon:
        by_group.setdefault(r["doc_id"] // 4, set()).add(r["canonical_url"])
    # all four variants of each group collapse to ONE canonical form
    assert all(len(s) == 1 for s in by_group.values()), by_group
    # distinct groups stay distinct
    assert len({next(iter(s)) for s in by_group.values()}) == 2
    c = next(iter(by_group[0]))
    assert c == "https://site0.example.com/arts/item0?id=0&lang=en"


def test_url_canonicalize_rules(spark):
    from opengemini_spark.datapipe import web

    rows = [
        (1, "HTTP://Host.COM:80/a/b#frag"),
        (2, "http://host.com/a/b"),
        (3, "https://h.io/p/?b=2&a=1&utm_campaign=x&gclid=z"),
        (4, "https://h.io/p?a=1&b=2"),
        (5, "ftp://h.io:443/f"),  # non-http scheme: port kept
    ]
    df = spark.createDataFrame(rows, ["doc_id", "url"])
    out = {r["doc_id"]: r["canonical_url"]
           for r in web.canonicalize_urls(df).collect()}
    assert out[1] == out[2] == "http://host.com/a/b"
    assert out[3] == out[4] == "https://h.io/p?a=1&b=2"
    assert out[5] == "ftp://h.io:443/f"


def test_url_oracle_no_query_agrees_with_engine(spark):
    """r9 ADVICE (medium): DuckDB's array_to_string returns NULL for an
    empty list, so a URL with NO query string (or only tracking params)
    used to NULL the oracle's canonical_url via '?' || NULL while Spark
    produced the correct string. The oracle now coalesces to '' — this
    replays the oracle's canonicalization CTEs on exactly those inputs
    and pins oracle == engine."""
    import duckdb

    from opengemini_spark import suite_datapipe as sd
    from opengemini_spark.datapipe import web

    sql = sd._url_dedup_oracle()
    i = sql.index("nofrag AS")
    tail = sql[i:]
    mid = tail[: tail.index("SELECT min(doc_id)")]
    urls = [
        (1, "https://site0.example.com/arts/item1"),             # no query
        (2, "https://site0.example.com/arts/item1?utm_source=x"),  # all-tracking
        (3, "https://site0.example.com/arts/item1/#frag"),
        (4, "https://site0.example.com/arts/item1?id=7&lang=en"),
    ]
    vals = ", ".join(f"({i}, '{u}')" for i, u in urls)
    q = (
        f"WITH u(doc_id, url) AS (VALUES {vals}), {mid} "
        "SELECT doc_id, canonical_url FROM canon ORDER BY doc_id"
    )
    got = dict(duckdb.sql(q).fetchall())
    eng = {
        r["doc_id"]: r["canonical_url"]
        for r in web.canonicalize_urls(
            spark.createDataFrame(urls, ["doc_id", "url"])
        ).collect()
    }
    assert None not in got.values()
    assert got == eng
    assert got[1] == got[2] == got[3] == "https://site0.example.com/arts/item1"


def test_url_dedup_keeps_min_id(spark):
    from opengemini_spark.datapipe import web

    base = spark.createDataFrame([(i,) for i in range(12)], ["doc_id"])
    out = web.url_dedup(web.synth_urls(base)).collect()
    assert len(out) == 3
    assert sorted(r["doc_id"] for r in out) == [0, 4, 8]
    assert all(r["n_variants"] == 4 for r in out)


def test_paragraph_dedup_removes_boilerplate_keeps_content(spark):
    rows = [
        (1, "alpha beta\n\nshared boiler line\n\ngamma delta"),
        (2, "epsilon zeta\n\nshared boiler line\n\neta theta"),
        (3, "iota kappa\n\nshared boiler line\n\nlambda mu"),
        (4, "unique only paragraph"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in dedup.paragraph_dedup(df, max_docs=2).collect()}
    # the 3-doc boilerplate is removed from ALL docs (not first-kept)
    assert out[1]["clean_text"] == "alpha beta\n\ngamma delta"
    assert out[2]["clean_text"] == "epsilon zeta\n\neta theta"
    assert out[1]["n_removed"] == 1 and out[1]["n_paras"] == 3
    # unique content untouched
    assert out[4]["clean_text"] == "unique only paragraph"
    assert out[4]["n_removed"] == 0


def test_paragraph_dedup_all_boiler_doc_empties(spark):
    rows = [(i, "the same line") for i in range(5)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dedup.paragraph_dedup(df, max_docs=2).collect()
    assert all(r["clean_text"] == "" and r["n_removed"] == 1 for r in out)


def test_normalize_text_fixes_each_noise_class(spark):
    nbsp = " "
    rows = [
        (1, "a  b"),                        # doubled space
        (2, " lead and trail "),            # trim
        (3, "bell\x07here"),                # control stripped
        (4, f"nb{nbsp}sp"),                 # NBSP -> space
        (5, "itâ€™s fine"),  # mojibake right-quote
        (6, "keep\nnewline"),               # newline preserved
        (7, "tab\tin"),                     # tab collapsed to space
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["norm_text"]
           for r in text.normalize_text(df).collect()}
    assert out[1] == "a b"
    assert out[2] == "lead and trail"
    assert out[3] == "bellhere"
    assert out[4] == "nb sp"
    assert out[5] == "it’s fine"
    assert out[6] == "keep\nnewline"
    assert out[7] == "tab in"


def test_normalize_char_counts(spark):
    df = spark.createDataFrame([(1, "  x  ")], ["doc_id", "text"])
    r = text.normalize_text(df).collect()[0]
    assert r["raw_chars"] == 5 and r["norm_chars"] == 1


def test_global_shuffle_deterministic_and_balanced(spark):
    from opengemini_spark.datapipe import corpus

    df = spark.createDataFrame([(i,) for i in range(2000)], ["doc_id"])
    a = corpus.global_shuffle(df, n_shards=16, seed=3).collect()
    b = corpus.global_shuffle(df, n_shards=16, seed=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # reproducible
    by_shard = {}
    for r in a:
        by_shard.setdefault(r["shard_id"], []).append(r)
    assert len(by_shard) == 16
    sizes = [len(v) for v in by_shard.values()]
    # md5 keys are uniform: no shard more than 2x the mean
    assert max(sizes) < 2 * (2000 / 16)
    # positions are a dense 1..n rank within each shard, ordered by key
    for rows in by_shard.values():
        rows.sort(key=lambda r: r["shard_pos"])
        assert [r["shard_pos"] for r in rows] == list(range(1, len(rows) + 1))
        keys = [r["shuffle_key"] for r in rows]
        assert keys == sorted(keys)
    # a different seed produces a different order
    c = corpus.global_shuffle(df, n_shards=16, seed=4).collect()
    assert {(r["doc_id"], r["shard_id"]) for r in c} != {
        (r["doc_id"], r["shard_id"]) for r in a
    }


def test_shard_manifest_partitioning_invariant(spark):
    """The manifest is identical regardless of input partitioning —
    the property that makes it a cross-run integrity check."""
    from opengemini_spark.datapipe import corpus

    rows = [(i, f"doc number {i} body") for i in range(300)]
    df1 = spark.createDataFrame(rows, ["doc_id", "text"])
    df2 = df1.repartition(13)
    m1 = sorted(map(tuple, corpus.shard_manifest(df1, n_shards=8).collect()))
    m2 = sorted(map(tuple, corpus.shard_manifest(df2, n_shards=8).collect()))
    assert m1 == m2
    assert sum(r[1] for r in m1) == 300          # every doc in a shard
    assert all(r[2] == 1 and r[3] == r[1] for r in m1)  # dense positions
    # a changed doc body changes exactly that shard's content_sum
    rows2 = rows[:]
    rows2[7] = (7, "tampered body")
    m3 = sorted(map(tuple, corpus.shard_manifest(
        spark.createDataFrame(rows2, ["doc_id", "text"]), n_shards=8
    ).collect()))
    diff = [i for i, (a, b) in enumerate(zip(m1, m3)) if a != b]
    assert len(diff) == 1


def test_url_canonicalize_idempotent(spark):
    """canonicalize(canonicalize(url)) == canonicalize(url): the canonical
    form is a fixed point, so the op is safe to re-run mid-pipeline."""
    from opengemini_spark.datapipe import web

    rows = [(i,) for i in range(64)]
    urls = web.synth_urls(spark.createDataFrame(rows, ["doc_id"]))
    once = web.canonicalize_urls(urls).select(
        "doc_id", F.col("canonical_url").alias("url")
    )
    twice = web.canonicalize_urls(once)
    diff = twice.filter(F.col("canonical_url") != F.col("url")).count()
    assert diff == 0


def test_normalize_text_idempotent(spark):
    """normalize(normalize(x)) == normalize(x) over every fixture noise
    class — re-running the cleanup stage must be a no-op."""
    base = spark.createDataFrame(
        [(i, f"word{i} text body sample") for i in range(64)],
        ["doc_id", "text"],
    )
    noisy = text.synth_noisy_docs(base)
    once = text.normalize_text(noisy).select(
        "doc_id", F.col("norm_text").alias("text")
    )
    twice = text.normalize_text(once)
    diff = twice.filter(F.col("norm_text") != F.col("text")).count()
    assert diff == 0


def test_paragraph_dedup_idempotent_when_clean(spark):
    """A corpus with no over-threshold paragraphs passes through
    unchanged (clean_text == text, n_removed == 0)."""
    rows = [(i, f"unique alpha {i}\n\nunique beta {i}") for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dedup.paragraph_dedup(df, max_docs=2)
    joined = out.join(df, "doc_id")
    assert joined.filter(F.col("clean_text") != F.col("text")).count() == 0
    assert joined.filter(F.col("n_removed") != 0).count() == 0


def test_hash_split_stable_under_growth(spark):
    """A doc's split depends only on (seed, id): adding new docs never
    migrates an existing doc between splits — the property row_number-
    based splitting lacks."""
    from opengemini_spark.datapipe import corpus

    small = spark.createDataFrame([(i,) for i in range(500)], ["doc_id"])
    big = spark.createDataFrame([(i,) for i in range(2000)], ["doc_id"])
    f = {"train": 9000, "val": 500, "test": 500}
    a = {r["doc_id"]: r["split"]
         for r in corpus.hash_split(small, f, seed=3).collect()}
    b = {r["doc_id"]: r["split"]
         for r in corpus.hash_split(big, f, seed=3).collect()}
    assert all(b[i] == a[i] for i in a)          # no migration
    from collections import Counter
    c = Counter(b.values())
    assert set(c) == {"train", "val", "test"}
    assert c["train"] > 8 * (c["val"] + c["test"])   # roughly proportional


def test_hash_split_validates_fractions(spark):
    from opengemini_spark.datapipe import corpus
    import pytest as _pytest

    df = spark.createDataFrame([(1,)], ["doc_id"])
    with _pytest.raises(ValueError):
        corpus.hash_split(df, {"train": 5000, "val": 100})
    # negative basis points pass the sum check but invert one split's
    # bucket range and push the next out of [0, 10000) (r9 ADVICE)
    with _pytest.raises(ValueError, match="0, 10000"):
        corpus.hash_split(df, {"train": -100, "val": 10100})
    with _pytest.raises(ValueError, match="0, 10000"):
        corpus.hash_split(df, {"train": 0, "val": 10000})


def test_pack_shuffled_inline_counts_match_counts_frame(spark):
    """The counts=None fast path (r9: count computed inline with the
    shuffle key, no second scan/join) must agree row-for-row with the
    explicit counts-frame join path given the same per-doc counts."""
    from pyspark.sql import functions as F
    from opengemini_spark.datapipe import corpus
    from opengemini_spark.datapipe.hashing import tokens_expr

    rows = [(i, "lorem ipsum dolor sit amet " * (1 + i % 5))
            for i in range(300)] + [(300, ""), (301, None)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    counts = df.select(
        "doc_id", tokens_expr("text").alias("__toks")
    ).select(
        "doc_id",
        F.coalesce(
            F.expr(
                "aggregate(__toks, 0L, (acc, t) -> "
                "acc + cast(ceil(length(t) / 4.0) as long))"
            ),
            F.lit(0),
        ).alias("n_subwords"),
    )
    inline = corpus.pack_shuffled(df, budget=96, n_shards=8, seed=3).collect()
    joined = corpus.pack_shuffled(
        df, budget=96, n_shards=8, seed=3, counts=counts
    ).collect()
    assert sorted(map(tuple, inline)) == sorted(map(tuple, joined))


def test_pack_shuffled_layout_properties(spark):
    """Shuffle-order packing: offsets restart at budget boundaries in
    shuffle-key order, every doc appears exactly once, and the layout
    is reproducible."""
    from opengemini_spark.datapipe import corpus

    rows = [(i, "alpha beta gamma delta " * (1 + i % 3)) for i in range(400)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    a = corpus.pack_shuffled(df, budget=64, n_shards=8, seed=5).collect()
    b = corpus.pack_shuffled(df, budget=64, n_shards=8, seed=5).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == 400 and len({r["doc_id"] for r in a}) == 400
    assert all(0 <= r["seq_offset"] < 64 for r in a)
    # within a shard, seq_id is nondecreasing in shuffle order and the
    # packing is contiguous: each doc's offset equals the previous
    # doc's offset + count unless a budget boundary intervened
    from opengemini_spark.datapipe.corpus import global_shuffle

    order = {r["doc_id"]: (r["shard_id"], r["shard_pos"])
             for r in global_shuffle(df, n_shards=8, seed=5).collect()}
    by_shard = {}
    for r in a:
        by_shard.setdefault(r["shard_id"], []).append(r)
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: order[r["doc_id"]][1])
        run = 0
        for r in rs:
            assert r["seq_offset"] == run % 64 or r["seq_offset"] == 0
            if r["seq_offset"] == 0 and run % 64 != 0:
                run = 0           # budget boundary: sequence restarted
            assert r["seq_id"] // 1_000_000_000 == shard
            run += r["n_subwords"]
