"""Analytics extension tests: exactness of the exact operators, recall of the
approximate ones against their exact twins, and multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from persistor_spark.analytics import dedup, multimodal, similarity, text
from persistor_spark.sources.registry import load_table
from plan_asserts import plan_has_shuffle


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


@pytest.fixture(scope="module")
def embs(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


# -- dedup -------------------------------------------------------------------

def test_exact_dedup_keeps_one_per_text(spark, docs):
    dup = docs.unionByName(docs.withColumn("doc_id", F.col("doc_id") + 10_000))
    kept = dedup.drop_exact_duplicates(dup)
    assert kept.count() == docs.count()
    # min-id representative wins
    assert kept.agg(F.max("doc_id")).collect()[0][0] < 10_000


def test_exact_groups_counts(docs):
    g = dedup.exact_groups(docs)
    assert g.count() == docs.select("text").distinct().count()
    total = g.agg(F.sum("group_size")).collect()[0][0]
    assert total == docs.count()


@pytest.fixture(scope="module")
def exact_pairs(docs):
    return {(r["a"], r["b"]) for r in dedup.ngram_jaccard_pairs(docs, 0.8).collect()}


def test_ngram_jaccard_finds_planted_near_dups(exact_pairs):
    assert len(exact_pairs) >= 10  # fixture plants ~25 near-dup pairs


def test_minhash_lsh_equals_exact(docs, exact_pairs):
    got = {(r["a"], r["b"]) for r in dedup.minhash_lsh_pairs(docs, 0.8).collect()}
    # exact-verified LSH output == exact pairs whenever banding recall holds;
    # at the fixture's J≈0.99 a miss is ~1e-18, so equality is deterministic
    assert got == exact_pairs


def test_minhash_lsh_no_verify_superset(docs, exact_pairs):
    cands = {(r["a"], r["b"]) for r in dedup.minhash_lsh_pairs(docs, 0.8, verify=False).collect()}
    assert exact_pairs <= cands


def test_simhash_near_dups_have_small_distance(docs, exact_pairs):
    sp = dedup.simhash_pairs(docs, max_distance=8)
    got = {(r["a"], r["b"]) for r in sp.collect()}
    # planted near-dups differ by a few tokens -> few SimHash bits
    hit = len(exact_pairs & got)
    assert hit >= len(exact_pairs) * 0.8


def test_simhash_bits_shape(spark):
    df = spark.createDataFrame([("hello world foo",)], "text string")
    bits = df.select(dedup.simhash_bits("text").alias("b")).collect()[0]["b"]
    assert len(bits) == 64 and set(bits) <= {0, 1}
    packed = df.select(dedup.simhash("text").alias("p")).collect()[0]["p"]
    assert isinstance(packed, int)


def test_shingles_short_text(spark):
    df = spark.createDataFrame([("one two",), ("a b c d",)], "text string")
    rows = df.select(dedup.shingles("text", 3).alias("s")).collect()
    assert rows[0]["s"] == []  # fewer tokens than k
    assert rows[1]["s"] == ["a b c", "b c d"]


def test_max_doc_freq_cap_prunes(docs):
    capped = dedup.ngram_jaccard_pairs(docs, 0.8, max_doc_freq=2)
    uncapped_n = len(
        {(r["a"], r["b"]) for r in dedup.ngram_jaccard_pairs(docs, 0.8).collect()}
    )
    assert capped.count() <= uncapped_n


def test_two_phase_cc_equals_propagation(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, 0.8)
    via_prop = {(r["doc_id"], r["cluster_id"]) for r in dedup.dedup_clusters(pairs).collect()}
    via_star = {
        (r["doc_id"], r["cluster_id"])
        for r in dedup.dedup_clusters_two_phase(pairs).collect()
    }
    assert via_star == via_prop


def test_two_phase_cc_long_chain(spark):
    # path graph 0-1-2-...-19: diameter 19, the propagation worst case;
    # star contraction must still resolve every node to component min 0
    pairs = spark.createDataFrame([(i, i + 1) for i in range(19)], "a long, b long")
    got = {(r["doc_id"], r["cluster_id"]) for r in dedup.dedup_clusters_two_phase(pairs).collect()}
    assert got == {(i, 0) for i in range(20)}


def test_two_phase_cc_disjoint_components(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 20)], "a long, b long"
    )
    got = {(r["doc_id"], r["cluster_id"]) for r in dedup.dedup_clusters_two_phase(pairs).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (20, 20), (21, 20)}


def test_duplicate_span_stats_planted(spark):
    boiler = "one two three four five six seven eight"  # exactly 8 tokens
    df = spark.createDataFrame(
        [
            (1, boiler + " unique tail alpha"),
            (2, boiler + " other ending beta"),
            (3, "completely different words with no repeats at all here"),
            (4, "tiny doc"),  # shorter than gram_len
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in dedup.duplicate_span_stats(df, gram_len=8).collect()}
    # the shared 8-token boilerplate is a duplicated gram covering tokens 1-8
    assert rows[1]["dup_grams"] == 1 and rows[1]["covered_tokens"] == 8
    assert rows[2]["dup_grams"] == 1 and rows[2]["covered_tokens"] == 8
    assert rows[1]["dup_fraction"] == round(8 / 11, 4)
    assert rows[3]["dup_grams"] == 0 and rows[3]["dup_fraction"] == 0.0
    assert rows[4]["n_tokens"] == 2 and rows[4]["dup_grams"] == 0


def test_duplicate_span_overlapping_grams_union(spark):
    # two docs share a 9-token run -> two overlapping duplicated 8-grams;
    # coverage must be the UNION (9 tokens), not 16
    run = "a b c d e f g h i"
    df = spark.createDataFrame(
        [(1, run + " x1 y1"), (2, run + " x2 y2")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in dedup.duplicate_span_stats(df, gram_len=8).collect()}
    assert rows[1]["dup_grams"] == 2
    assert rows[1]["covered_tokens"] == 9


# -- LM perplexity -----------------------------------------------------------

def test_lm_perplexity_semantics(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cat sat on the rug"),
            (3, "zyx wvu tsr qpo nml kji"),  # every token unique to this doc
            (4, "the"),  # single token: no bigrams
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in text.lm_perplexity_scores(df).collect()}
    assert rows[4]["bi_nll"] is None and rows[4]["uni_nll"] is not None
    # corpus-typical docs score lower NLL than the all-rare-tokens doc
    assert rows[1]["uni_nll"] < rows[3]["uni_nll"]
    assert rows[2]["uni_nll"] < rows[3]["uni_nll"]
    # shared prefix bigrams ("the cat", "cat sat", ...) make 1/2 cheaper
    # than the never-repeated bigrams of doc 3
    assert rows[1]["bi_nll"] < rows[3]["bi_nll"]
    assert all(r["n_tokens"] == len(t.split()) for r, t in [
        (rows[1], "the cat sat on the mat"),
        (rows[4], "the"),
    ])


def test_lm_train_reuse_matches_inline(spark):
    df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b c d e"), (3, "c d c d a")],
        "doc_id long, text string",
    )
    uni, bi = text.lm_train(df)
    inline = {r["doc_id"]: r for r in text.lm_perplexity_scores(df).collect()}
    reused = {r["doc_id"]: r for r in text.lm_perplexity_scores(df, uni=uni, bi=bi).collect()}
    assert inline == reused


# -- similarity --------------------------------------------------------------

@pytest.fixture(scope="module")
def brute_topk(embs):
    q = embs.filter(F.col("vec_id") < 10)
    return similarity.brute_force_topk(embs, q, k=10).collect()


def test_brute_force_topk_shape(brute_topk):
    by_q = {}
    for r in brute_topk:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(range(10))
    for q, rows in by_q.items():
        assert len(rows) == 10
        cs = [r["cos"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert cs == sorted(cs, reverse=True)
        assert all(r["vec_id"] != q for r in rows)


def test_lsh_topk_recall(embs, brute_topk):
    q = embs.filter(F.col("vec_id") < 10)
    got = similarity.cosine_lsh_topk(embs, q, k=10).collect()
    truth = {(r["query_id"], r["vec_id"]) for r in brute_topk}
    found = {(r["query_id"], r["vec_id"]) for r in got}
    recall = len(truth & found) / len(truth)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_ivf_topk_recall(embs, brute_topk):
    q = embs.filter(F.col("vec_id") < 10)
    got = similarity.ivf_topk(embs, q, k=10, n_centroids=8, nprobe=4).collect()
    truth = {(r["query_id"], r["vec_id"]) for r in brute_topk}
    found = {(r["query_id"], r["vec_id"]) for r in got}
    recall = len(truth & found) / len(truth)
    assert recall >= 0.4, f"IVF recall too low: {recall}"


def test_pq_train_shapes(embs):
    cbs = similarity.pq_train(embs, m=8, ksub=8, kmeans_iter=2)
    assert len(cbs) == 8
    dim = len(embs.first()["embedding"])
    for cb in cbs:
        assert len(cb) == 8
        for cent in cb:
            assert len(cent) == dim // 8
    # deterministic: same seed -> identical codebooks
    cbs2 = similarity.pq_train(embs, m=8, ksub=8, kmeans_iter=2)
    assert cbs == cbs2


def test_pq_encode_properties(embs):
    cbs = similarity.pq_train(embs, m=8, ksub=8, kmeans_iter=2)
    enc = similarity.pq_encode(embs, cbs).collect()
    assert len(enc) == embs.count()
    for r in enc:
        assert len(r["codes"]) == 8
        assert all(0 <= c < 8 for c in r["codes"])


def test_pq_topk_recall(embs, brute_topk):
    q = embs.filter(F.col("vec_id") < 10)
    got = similarity.pq_topk(embs, q, k=10, m=16, ksub=16, rerank_factor=4).collect()
    truth = {(r["query_id"], r["vec_id"]) for r in brute_topk}
    found = {(r["query_id"], r["vec_id"]) for r in got}
    recall = len(truth & found) / len(truth)
    assert recall >= 0.5, f"PQ recall too low: {recall}"
    # exact re-rank: every returned cos must equal the brute-force cos for
    # the same (query, vec) pair
    bf = {(r["query_id"], r["vec_id"]): r["cos"] for r in brute_topk}
    for r in got:
        key = (r["query_id"], r["vec_id"])
        if key in bf:
            assert abs(r["cos"] - bf[key]) < 1e-9


def test_ivfpq_topk_recall(embs, brute_topk):
    q = embs.filter(F.col("vec_id") < 10)
    got = similarity.ivfpq_topk(
        embs, q, k=10, n_centroids=8, nprobe=4, m=16, ksub=16, rerank_factor=4
    ).collect()
    truth = {(r["query_id"], r["vec_id"]) for r in brute_topk}
    found = {(r["query_id"], r["vec_id"]) for r in got}
    recall = len(truth & found) / len(truth)
    assert recall >= 0.4, f"IVFPQ recall too low: {recall}"
    # exact re-rank: returned scores equal brute-force cosine on shared pairs
    bf = {(r["query_id"], r["vec_id"]): r["cos"] for r in brute_topk}
    for r in got:
        key = (r["query_id"], r["vec_id"])
        if key in bf:
            assert abs(r["cos"] - bf[key]) < 1e-9


def test_ivfpq_build_search_equals_inline(embs):
    """The FAISS train/search split: probing a prebuilt index returns
    exactly what the inline-building ivfpq_topk returns."""
    q = embs.filter(F.col("vec_id") < 10)
    inline = similarity.ivfpq_topk(embs, q, k=10, n_centroids=8, nprobe=4).collect()
    idx = similarity.ivfpq_build(embs, n_centroids=8)
    split = similarity.ivfpq_search(idx, q, k=10, nprobe=4).collect()
    assert {tuple(r) for r in split} == {tuple(r) for r in inline}


def test_opq_rotation_is_orthonormal_and_recall(embs, brute_topk):
    import numpy as np

    R, cbs = similarity.opq_train(embs, m=16, ksub=16, n_iter=2, pq_iter=2)
    Rm = np.asarray(R)
    assert np.allclose(Rm @ Rm.T, np.eye(Rm.shape[0]), atol=1e-8)
    q = embs.filter(F.col("vec_id") < 10)
    got = similarity.opq_topk(
        embs, q, k=10, m=16, ksub=16, rerank_factor=4, rotation=R, codebooks=cbs
    ).collect()
    truth = {(r["query_id"], r["vec_id"]) for r in brute_topk}
    found = {(r["query_id"], r["vec_id"]) for r in got}
    recall = len(truth & found) / len(truth)
    assert recall >= 0.5, f"OPQ recall too low: {recall}"
    # rotation-invariant cosine: returned scores equal brute force exactly
    bf = {(r["query_id"], r["vec_id"]): r["cos"] for r in brute_topk}
    for r in got:
        key = (r["query_id"], r["vec_id"])
        if key in bf:
            assert abs(r["cos"] - bf[key]) < 1e-3  # rotated floats re-rounded


def test_semdedup_subset_of_brute_force(embs):
    brute = {(r["a"], r["b"]) for r in dedup.embedding_dup_pairs(embs, 0.4).collect()}
    sem = {
        (r["a"], r["b"])
        for r in similarity.semdedup_pairs(embs, 0.4, n_centroids=8).collect()
    }
    # cluster-bounded search can only MISS pairs, never invent them
    assert sem <= brute
    assert len(sem) > 0


def test_semdedup_catches_planted_exact_dups(embs):
    # identical vectors always share a cell (same assignment scores, same
    # tie-break), so planted exact duplicates MUST all be found
    dup = embs.unionByName(embs.filter(F.col("vec_id") < 20).withColumn("vec_id", F.col("vec_id") + 100_000))
    sem = {
        (r["a"], r["b"])
        for r in similarity.semdedup_pairs(dup, 0.999, n_centroids=8).collect()
    }
    for i in range(20):
        assert (i, i + 100_000) in sem


def test_kmeans_centroids_properties(embs):
    """Lloyd iterations must produce exactly C centroids of the right
    dimensionality, deterministically, and reduce mean quantization error
    vs the stride init."""
    cents1 = similarity.kmeans_centroids(embs, n_centroids=8, max_iter=3)
    rows = cents1.collect()
    assert len(rows) == 8
    dim = len(embs.first()["embedding"])
    assert all(len(r["cv"]) == dim for r in rows)
    # deterministic across runs
    cents2 = similarity.kmeans_centroids(embs, n_centroids=8, max_iter=3)
    a = {r["cid"]: [round(x, 8) for x in r["cv"]] for r in cents1.collect()}
    b = {r["cid"]: [round(x, 8) for x in r["cv"]] for r in cents2.collect()}
    assert a == b

    def mean_err(cents):
        from pyspark.sql import Window

        v = embs.select(F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>").alias("v"))
        d = (
            v.join(F.broadcast(cents), F.lit(True))
            .withColumn("cos", similarity.cosine(F.col("v"), F.col("cv")))
            .groupBy("id")
            .agg(F.max("cos").alias("best"))
            .agg(F.avg("best"))
            .first()[0]
        )
        return d

    trained = mean_err(cents1)
    stride = mean_err(similarity.kmeans_centroids(embs, n_centroids=8, max_iter=0))
    assert trained >= stride - 1e-9, f"k-means made assignment worse: {trained} < {stride}"


def test_centroid_assignment_no_shuffle_and_exact(embs):
    """The r3 scale fix: centroid assignment is an argmax over literal
    centroids — a narrow map with NO Exchange in the plan (the r2 version
    shuffled n*C rows through a per-id window), and it must pick the true
    argmax-dot centroid with lowest-cid tie-break."""
    import numpy as np


    cents = similarity.kmeans_train(embs, n_centroids=8, max_iter=1)
    v = embs.select(
        F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>").alias("v")
    )
    assigned = v.select("id", similarity._argmax_cid(F.col("v"), cents).alias("cid"))
    assert not plan_has_shuffle(assigned)

    got = {r["id"]: r["cid"] for r in assigned.collect()}
    cmat = np.array([cv for _, cv in cents])
    for r in v.collect():
        scores = cmat @ np.array(r["v"])
        want = int(np.argmax(scores))  # np.argmax returns first (lowest) index
        assert got[r["id"]] == cents[want][0]


def test_ivf_kmeans_recall_not_worse_than_stride(embs, brute_topk):
    q = embs.filter(F.col("vec_id") < 10)
    truth = {(r["query_id"], r["vec_id"]) for r in brute_topk}

    def recall(**kw):
        got = similarity.ivf_topk(embs, q, k=10, n_centroids=8, nprobe=4, **kw).collect()
        found = {(r["query_id"], r["vec_id"]) for r in got}
        return len(truth & found) / len(truth)

    r_kmeans = recall(kmeans_iter=2)
    assert r_kmeans >= 0.4, f"k-means IVF recall too low: {r_kmeans}"


def test_embedding_lsh_pairs_equal_brute_force(embs):
    # the LSH-bucketed production op must reproduce the brute-force oracle
    # exactly at the a12 threshold (per-pair miss prob ~1e-7 at the b=2/T=32
    # defaults; hyperplanes are seeded, so equality is deterministic)
    brute = {(r["a"], r["b"], r["cos"]) for r in dedup.embedding_dup_pairs(embs, 0.4).collect()}
    lsh = {(r["a"], r["b"], r["cos"]) for r in dedup.embedding_dup_pairs_lsh(embs, 0.4).collect()}
    assert brute == lsh
    assert len(brute) > 0


def test_embedding_lsh_pairs_plan_has_no_cartesian(embs):
    plan = dedup.embedding_dup_pairs_lsh(embs, 0.4)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_cosine_of_self_is_one(spark):
    df = spark.createDataFrame([([3.0, 4.0],)], "v array<double>")
    c = df.select(similarity.cosine(F.col("v"), F.col("v")).alias("c")).collect()[0]["c"]
    assert abs(c - 1.0) < 1e-12


# -- text --------------------------------------------------------------------

def test_text_stats_ranges(docs):
    stats = text.with_text_stats(docs)
    bad = stats.filter(
        (F.col("token_count") <= 0)
        | (F.col("distinct_token_ratio") <= 0)
        | (F.col("distinct_token_ratio") > 1)
        | (F.col("quality_score") < 0)
        | (F.col("quality_score") > 1)
    )
    assert bad.count() == 0


def test_fingerprint_is_case_insensitive(spark):
    df = spark.createDataFrame([("Hello World", "hello world")], "a string, b string")
    r = df.select(
        (text.fingerprint("a") == text.fingerprint("b")).alias("eq")
    ).collect()[0]["eq"]
    assert r is True


def test_detect_language_markers(spark):
    df = spark.createDataFrame(
        [
            ("le chat et la table",),
            ("der hund und die katze",),
            ("just some random words here",),
        ],
        "text string",
    )
    got = [r[0] for r in df.select(text.detect_language("text")).collect()]
    assert got[0] == "fr" and got[1] == "de"


# -- multimodal --------------------------------------------------------------

@pytest.fixture(scope="module")
def media(spark, docs):
    return multimodal.synthesize_media(spark, docs).cache()


def test_image_features_schema_and_rows(media):
    feats = multimodal.extract_image_features(media)
    n_images = media.filter(F.col("media_type") == "image").count()
    assert feats.count() == n_images
    row = feats.first()
    assert len(row["feature"]) == 8
    assert row["n_bytes"] > 0


def test_frame_sampling_row_explosion(media):
    frames = multimodal.sample_frames(media, every_ms=2000)
    vids = media.filter(F.col("media_type") == "video")
    expected = vids.select(
        F.sum(F.ceil(F.col("duration_ms") / 2000)).cast("long")
    ).collect()[0][0]
    assert frames.count() == expected


def test_repartition_for_decode_preserves_rows(media):
    out = multimodal.repartition_for_decode(media, target_bytes_per_partition=1 << 16)
    assert out.count() == media.count()
    assert out.rdd.getNumPartitions() >= 1


def test_bm25_search_ranks_relevant_docs(spark):
    from persistor_spark.analytics import search

    docs = spark.createDataFrame(
        [
            (1, "spark join spark join spark"),
            (2, "spark filter"),
            (3, "totally unrelated words here"),
            (4, "join"),
        ],
        "doc_id long, text string",
    )
    idx = search.build_index(docs)
    assert idx.n_docs == 4
    out = {r["id"]: r["rank"] for r in search.search(idx, ["spark", "join"], k=4).collect()}
    assert 3 not in out  # no query terms -> not retrieved
    assert out[1] == 1  # most matches wins
    assert set(out) == {1, 2, 4}


def test_approx_count_distinct_tolerance(spark, sf_dir):
    """HLL++ sketch vs exact distinct within the configured rsd — the
    approximate-aggregation surface at 100 TB (exact distinct shuffles all
    keys; the sketch is mergeable and constant-size)."""
    from persistor_spark.sources.registry import load_table

    li = load_table(spark, sf_dir, "lineitem")
    exact = li.select("l_partkey").distinct().count()
    approx = li.agg(F.approx_count_distinct("l_partkey", rsd=0.02).alias("a")).collect()[0]["a"]
    assert abs(approx - exact) / exact < 0.06  # 3x rsd margin


def test_resize_images_geometry(media):
    from persistor_spark.analytics import multimodal

    out = multimodal.resize_images(media, max_width=100, max_height=100)
    n_images = media.filter(F.col("media_type") == "image").count()
    assert out.count() == n_images
    bad = out.filter((F.col("width") > 100) | (F.col("height") > 100))
    assert bad.count() == 0
    # aspect preserved: no dimension upscaled past original
    orig = media.select("media_id", F.col("width").alias("ow"), F.col("height").alias("oh"))
    joined = out.join(orig, "media_id")
    assert joined.filter((F.col("width") > F.col("ow")) | (F.col("height") > F.col("oh"))).count() == 0


def test_bpe_token_count_on_punctuated_text(spark):
    from persistor_spark.analytics import text as t

    df = spark.createDataFrame([("don't stop-me, now! abc123",)], "text string")
    r = df.select(
        t.token_count().alias("ws"), t.bpe_token_count().alias("bpe")
    ).collect()[0]
    # ws: 4 whitespace tokens; bpe: don|'|t|stop|-|me|,|now|!|abc|123 = 11
    assert r["ws"] == 4
    assert r["bpe"] == 11


def test_winnow_fingerprints_shift_tolerant(spark):
    """A document with an inserted prefix still shares most fingerprints —
    the property md5-of-document lacks."""
    base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    shifted = "INSERTED PREAMBLE TEXT HERE. " + base
    df = spark.createDataFrame([(1, base), (2, shifted)], "doc_id long, text string")
    fps = {
        r["doc_id"]: set(r["fp"])
        for r in df.select(
            "doc_id", dedup.winnow_fingerprints("text").alias("fp")
        ).collect()
    }
    shared = len(fps[1] & fps[2])
    assert shared >= len(fps[1]) * 0.5
    # and unrelated text shares ~nothing
    df2 = spark.createDataFrame(
        [(3, "completely different content with no overlap whatsoever in this sentence at all")],
        "doc_id long, text string",
    )
    fp3 = set(
        df2.select(dedup.winnow_fingerprints("text").alias("fp")).collect()[0]["fp"]
    )
    assert len(fps[1] & fp3) == 0


def test_winnow_overlap_pairs_finds_planted_dups(docs, exact_pairs):
    got = {
        (r["a"], r["b"])
        for r in dedup.winnow_overlap_pairs(docs, min_shared=5).collect()
    }
    hit = len(exact_pairs & got)
    assert hit >= len(exact_pairs) * 0.8


def test_mixture_sampling_proportions_and_determinism(spark, docs):
    from persistor_spark.analytics import sampling

    weights = {"src0": 2.0, "src1": 1.0, "src2": 1.0}
    out = sampling.sample_mixture(docs, "source", weights, seed=7)
    counts = {r[0]: r[1] for r in out.groupBy("source").count().collect()}
    assert set(counts) <= set(weights)
    # src0 should be ~2x src1 (Bernoulli noise tolerated)
    assert counts["src0"] > counts["src1"] * 1.4
    # deterministic for fixed seed
    again = sampling.sample_mixture(docs, "source", weights, seed=7)
    assert sorted(r[0] for r in out.select("doc_id").collect()) == sorted(
        r[0] for r in again.select("doc_id").collect()
    )
    # unknown stratum rejected
    import pytest as _pytest

    with _pytest.raises(ValueError, match="absent"):
        sampling.mixture_fractions(docs, "source", {"nope": 1.0})


def test_mixture_fractions_respect_budget(docs):
    from persistor_spark.analytics import sampling

    fr = sampling.mixture_fractions(docs, "source", {"src0": 1, "src1": 1}, total_rows=50)
    assert all(0 < f <= 1.0 for f in fr.values())


def test_hashed_mixture_stable_under_repartition(docs):
    from persistor_spark.analytics import sampling

    weights = {"src0": 2.0, "src1": 1.0}
    out = sampling.sample_mixture_hashed(docs, "source", weights, seed=7)
    ids = sorted(r[0] for r in out.select("doc_id").collect())
    # membership depends only on (seed, id): any physical layout gives the
    # exact same set — the property sampleBy cannot provide
    shuffled = sampling.sample_mixture_hashed(
        docs.repartition(7, "doc_id"), "source", weights, seed=7
    )
    assert sorted(r[0] for r in shuffled.select("doc_id").collect()) == ids
    counts = {r[0]: r[1] for r in out.groupBy("source").count().collect()}
    assert set(counts) <= set(weights)
    # anchor stratum samples at fraction 1.0 -> kept in full, deterministically
    pool = {r[0]: r[1] for r in docs.groupBy("source").count().collect()}
    assert counts["src0"] == pool["src0"]
    assert counts["src1"] < pool["src1"]
    # different seed -> different (but same-sized-ish) selection
    other = sampling.sample_mixture_hashed(docs, "source", weights, seed=8)
    assert sorted(r[0] for r in other.select("doc_id").collect()) != ids


def test_pack_sequences_invariants(spark):
    from persistor_spark.analytics import sampling

    df = spark.createDataFrame(
        [(i, 100 + (i * 37) % 400) for i in range(200)], "doc_id long, n_tokens long"
    )
    out = sampling.pack_sequences(df, budget=1024, n_shards=4).collect()
    assert len(out) == 200
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    assert set(r["shard"] for r in out) <= set(range(4))
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r["doc_id"])
        cum = 0
        for r in shard_rows:
            # doc starts exactly at the running concat offset
            assert r["seq_id"] == cum // 1024
            assert r["seq_offset"] == cum % 1024
            end = cum + r["n_tokens"] - 1
            assert r["spans"] == end // 1024 - r["seq_id"] + 1
            cum += r["n_tokens"]


def test_quota_sample_exact_counts_and_stability(docs):
    from persistor_spark.analytics import sampling

    out = sampling.quota_sample(docs, "source", quota=10, seed=7)
    counts = {r[0]: r[1] for r in out.groupBy("source").count().collect()}
    pool = {r[0]: r[1] for r in docs.groupBy("source").count().collect()}
    for src, n in pool.items():
        assert counts.get(src, 0) == min(10, n)
    ids = sorted(r[0] for r in out.select("doc_id").collect())
    again = sampling.quota_sample(docs.repartition(11, "doc_id"), "source", quota=10, seed=7)
    assert sorted(r[0] for r in again.select("doc_id").collect()) == ids


def test_pack_sequences_long_doc_straddles(spark):
    from persistor_spark.analytics import sampling

    df = spark.createDataFrame([(1, 5000)], "doc_id long, n_tokens long")
    r = sampling.pack_sequences(df, budget=1024, n_shards=1).collect()[0]
    assert r["seq_id"] == 0 and r["seq_offset"] == 0 and r["spans"] == 5


# -- real BMP codec path -----------------------------------------------------


def test_bmp_encode_decode_round_trip():
    import numpy as np

    rng = np.random.default_rng(7)
    for h, w in [(1, 1), (3, 5), (16, 9), (33, 7)]:  # odd widths exercise padding
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        back = multimodal.decode_bmp(multimodal.encode_bmp(img))
        assert back.shape == (h, w, 3)
        assert (back == img).all()


def test_image_features_are_real_pixel_stats(media):
    """Image rows carry real BMP bytes -> features are REAL channel/luminance
    statistics (width/height slots match the decoded geometry), not the
    byte-stat stub."""
    import numpy as np

    feats = multimodal.extract_image_features(media)
    row = feats.first()
    content = media.filter(F.col("media_id") == row["media_id"]).first()["content"]
    px = multimodal.decode_bmp(bytes(content)).astype(np.float64)
    assert row["feature"][0] == float(px.shape[1])  # width
    assert row["feature"][1] == float(px.shape[0])  # height
    assert abs(row["feature"][2] - px[:, :, 0].mean()) < 1e-3
    lum = 0.2126 * px[:, :, 0] + 0.7152 * px[:, :, 1] + 0.0722 * px[:, :, 2]
    assert abs(row["feature"][5] - lum.mean()) < 1e-3


def test_resize_really_resamples_bmp(media):
    """Resized BMP content decodes to exactly the reported output geometry
    (nearest-neighbor resample + re-encode, not a byte passthrough)."""
    resized = multimodal.resize_images(media, max_width=16, max_height=16)
    for row in resized.limit(5).collect():
        px = multimodal.decode_bmp(bytes(row["content"]))
        assert px.shape[0] == row["height"] <= 16
        assert px.shape[1] == row["width"] <= 16


def test_compressed_formats_fall_back_to_stub():
    jpeg_ish = b"\xff\xd8\xff\xe0" + b"x" * 100
    got = multimodal.decode_image_features(jpeg_ish)
    assert len(got) == 8  # stub shape, no raise


def test_ngram_contamination_planted(spark):
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta"),
            (2, "totally unrelated words here nothing shared at all"),
            (3, "prefix noise alpha beta gamma delta epsilon suffix"),
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    got = {
        (r["corpus_id"], r["eval_id"]): r["shared_ngrams"]
        for r in dedup.ngram_contamination(corpus, eval_df, n=5).collect()
    }
    assert set(got) == {(1, 100), (3, 100)}  # doc 2 is clean
    assert got[(1, 100)] >= 1 and got[(3, 100)] >= 1
    # eval side broadcast: plan must not shuffle the corpus for the join
    plan = (
        dedup.ngram_contamination(corpus, eval_df, n=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


# -- count-min sketch --------------------------------------------------------


def test_cms_overestimates_never_under(spark, docs):
    from persistor_spark.analytics import sketches

    terms = docs.select(F.explode(F.split("text", " ")).alias("term"))
    sketch = sketches.count_min_sketch(terms, "term", depth=4, width=2048).cache()
    truth = {r["term"]: r["n"] for r in terms.groupBy("term").agg(F.count("*").alias("n")).collect()}
    probe = spark.createDataFrame([(t,) for t in list(truth)[:200]], "term string")
    est = {r["item"]: r["estimate"] for r in sketches.cms_estimate(sketch, probe, "term", depth=4, width=2048).collect()}
    assert all(est[t] >= truth[t] for t in est)  # one-sided error
    # wide sketch vs small vocab: most estimates exact
    exact = sum(1 for t in est if est[t] == truth[t])
    assert exact / len(est) > 0.9


def test_cms_merge_equals_whole(spark, docs):
    from persistor_spark.analytics import sketches

    terms = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    half1 = terms.filter(F.col("doc_id") % 2 == 0)
    half2 = terms.filter(F.col("doc_id") % 2 == 1)
    whole = sketches.count_min_sketch(terms, "term", depth=4, width=256)
    merged = sketches.merge_sketches(
        sketches.count_min_sketch(half1, "term", depth=4, width=256),
        sketches.count_min_sketch(half2, "term", depth=4, width=256),
    )
    assert whole.exceptAll(merged).count() == 0
    assert merged.exceptAll(whole).count() == 0


def test_hll_estimate_accuracy_and_merge(spark):
    from persistor_spark.analytics import sketches

    n = 5000
    items = spark.range(n).select(F.concat(F.lit("item-"), F.col("id")).alias("x"))
    regs = sketches.hll_registers(items, "x", p=8)
    est = sketches.hll_estimate(regs, p=8)
    # standard error ~1.04/sqrt(256) ~ 6.5%; allow 3 sigma
    assert abs(est - n) / n < 0.2
    # merge(halves) == whole, register for register
    merged = sketches.hll_merge(
        sketches.hll_registers(items.filter(F.col("x").substr(-1, 1).isin("0", "2", "4", "6", "8")), "x", p=8),
        sketches.hll_registers(items.filter(F.col("x").substr(-1, 1).isin("1", "3", "5", "7", "9")), "x", p=8),
    )
    assert regs.exceptAll(merged).count() == 0
    assert merged.exceptAll(regs).count() == 0
    # duplicates don't move the sketch (distinct-count, not frequency)
    doubled = sketches.hll_registers(items.unionAll(items), "x", p=8)
    assert regs.exceptAll(doubled).count() == 0


def test_hll_small_range_linear_counting(spark):
    from persistor_spark.analytics import sketches

    items = spark.createDataFrame([(f"t{i}",) for i in range(40)], "x string")
    est = sketches.hll_estimate(sketches.hll_registers(items, "x", p=8), p=8)
    # 40 distinct across 256 registers -> linear counting, tight
    assert abs(est - 40) < 6


def test_bloom_no_false_negatives_and_some_rejects(spark):
    from persistor_spark.analytics import sketches

    members = spark.createDataFrame([(f"m{i}",) for i in range(500)], "x string")
    others = spark.createDataFrame([(f"z{i}",) for i in range(500)], "x string")
    bits = sketches.bloom_bits(members, "x", m_bits=1 << 14, k=4)
    got_m = sketches.bloom_probe(members, bits, "x", m_bits=1 << 14, k=4)
    # NEVER a false negative
    assert got_m.filter(~F.col("maybe_member")).count() == 0
    got_o = sketches.bloom_probe(others, bits, "x", m_bits=1 << 14, k=4)
    fp = got_o.filter(F.col("maybe_member")).count() / 500
    # 500 items / 16384 bits / 4 hashes -> fp ~ (1-e^(-4*500/16384))^4 ~ 0.0002
    assert fp < 0.05


def test_containment_directional(spark):
    from persistor_spark.analytics import dedup

    inner = "alpha beta gamma delta epsilon zeta"
    outer = inner + " eta theta iota kappa " + "lorem ipsum dolor sit amet " * 4
    df = spark.createDataFrame([(1, inner), (2, outer)], "doc_id long, text string")
    rows = {(r["a"], r["b"]): r["containment"] for r in dedup.containment_pairs(df, 0.9).collect()}
    # doc 1 is fully contained in doc 2 -> (1, 2) qualifies at 1.0 ...
    assert rows.get((1, 2)) == 1.0
    # ... but the container is NOT contained in the fragment
    assert (2, 1) not in rows


def test_power_iteration_matches_numpy_top_direction(spark):
    import numpy as np

    from persistor_spark.analytics import similarity

    rng = np.random.default_rng(11)
    # anisotropic cloud: one dominant direction baked in
    base = rng.standard_normal((400, 16))
    base[:, 3] *= 8.0
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(base)],
        "vec_id long, embedding array<double>",
    )
    v = np.array(similarity.power_iteration_direction(df, iterations=8, dim=16))
    _, _, vt = np.linalg.svd(base, full_matrices=False)
    cos = abs(float(np.dot(v, vt[0]) / (np.linalg.norm(v) * np.linalg.norm(vt[0]))))
    assert cos > 0.999
    # unit length (up to the 6dp rounding of components)
    assert abs(np.linalg.norm(v) - 1.0) < 1e-3


def test_duplicate_ngram_fraction_values(spark):
    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),      # 2-grams: ab ba ab ba ab -> 2/5 distinct
            (2, "x y z w"),          # all distinct
            (3, "q"),                # shorter than n -> 0.0
        ],
        "doc_id int, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            text.duplicate_ngram_fraction("text", 2).alias("d2"),
            text.duplicate_ngram_fraction("text", 3).alias("d3"),
        ).collect()
    }
    assert abs(rows[1]["d2"] - (1 - 2 / 5)) < 1e-9
    # 3-grams of doc1: aba bab aba bab -> 2/4 distinct
    assert abs(rows[1]["d3"] - 0.5) < 1e-9
    assert rows[2]["d2"] == 0.0 and rows[2]["d3"] == 0.0
    assert rows[3]["d2"] == 0.0 and rows[3]["d3"] == 0.0


def test_gopher_flags_rules(spark):
    long_clean = "the quick brown fox jumps over a lazy dog and then runs far away to rest in the shade of an old oak tree near town"
    df = spark.createDataFrame(
        [
            (1, long_clean),                          # passes everything
            (2, "too short"),                         # fails word count
            (3, " ".join(["ab cd"] * 30)),            # repetition + no stopwords
            (4, "#!? $$$ " * 40),                     # symbol-heavy
        ],
        "doc_id int, text string",
    )
    rows = {r["doc_id"]: r for r in text.gopher_flags(df).collect()}
    assert rows[1]["keep"] is True
    assert rows[2]["flag_words"] is False and rows[2]["keep"] is False
    assert rows[3]["flag_repetition"] is False and rows[3]["flag_stopwords"] is False
    assert rows[4]["flag_symbols"] is False and rows[4]["keep"] is False


def test_gopher_keep_matches_flag_conjunction(docs):
    out = text.gopher_flags(docs)
    bad = out.filter(
        F.col("keep")
        != (
            F.col("flag_words")
            & F.col("flag_mean_len")
            & F.col("flag_symbols")
            & F.col("flag_stopwords")
            & F.col("flag_repetition")
        )
    )
    assert bad.count() == 0


def test_wav_codec_round_trip(spark):
    import numpy as np

    s = multimodal.synthesize_wave(7, 500)  # 0.5 s at 4 kHz -> 2000 samples
    assert len(s) == 2000
    wav = multimodal.encode_wav(s)
    assert len(wav) == 44 + 2 * 2000
    rate, back = multimodal.decode_wav(wav)
    assert rate == 4000
    assert np.array_equal(back, s)


def test_decode_wav_rejects_garbage():
    import pytest as _pytest

    with _pytest.raises(ValueError):
        multimodal.decode_wav(b"not a wav at all" * 4)


def test_real_audio_features(spark, media):
    feats = {r["media_id"]: r for r in multimodal.extract_audio_features_real(media).collect()}
    rows = {r["media_id"]: r for r in media.filter(F.col("media_type") == "audio").collect()}
    assert set(feats) == set(rows)
    for mid, r in feats.items():
        dur = rows[mid]["duration_ms"]
        n_expected = max(4000 * dur // 1000, 1)
        assert r["n_samples"] == n_expected
        assert r["n_bytes"] == 44 + 2 * n_expected
        assert r["rate"] == 4000
        # a 0.5-amplitude sine has RMS ~0.353 and peak ~0.5
        if n_expected > 100:
            assert 0.3 < r["feature"][0] < 0.4
            assert 0.45 < r["feature"][2] <= 0.51


def test_avi_codec_round_trip():
    import numpy as np

    clip = multimodal.synthesize_clip(7, 1500)
    assert clip.shape == (15, 12, 16, 3)
    avi = multimodal.encode_avi(clip, fps=10)
    fps, frames = multimodal.decode_avi(avi)
    assert fps == 10 and len(frames) == 15
    assert all(np.array_equal(a, b) for a, b in zip(clip, frames))


def test_decode_avi_rejects_garbage():
    import pytest as _pytest

    with _pytest.raises(ValueError):
        multimodal.decode_avi(b"RIFFxxxxNOPE" + b"\x00" * 50)


def test_real_frame_sampling(spark, media):
    rows = multimodal.sample_frames_real(media, every_ms=200).collect()
    vids = {r["media_id"]: r for r in media.filter(F.col("media_type") == "video").collect()}
    assert {r["media_id"] for r in rows} == set(vids)
    by_media = {}
    for r in rows:
        by_media.setdefault(r["media_id"], []).append(r)
    for mid, rs in by_media.items():
        dur = vids[mid]["duration_ms"]
        n_expected = max(min(dur // 100, 30), 1)
        assert all(r["n_frames"] == n_expected for r in rs)
        assert all(r["fps"] == 10 and r["height"] == 12 and r["width"] == 16 for r in rs)
        clip_ms = n_expected * 100
        assert len(rs) == (max(clip_ms, 1) - 1) // 200 + 1
        for r in rs:
            assert r["frame_idx"] == min(r["frame_ts_ms"] // 100, n_expected - 1)
            assert 0.0 <= r["mean_lum"] <= 255.0


# -- r3 additions: chunking / PMI / split assignment -------------------------

def test_chunk_documents_coverage_and_overlap(docs):
    from persistor_spark.analytics import text

    chunks = text.chunk_documents(docs, chunk_tokens=64, stride=48).collect()
    doc_toks = {
        r["doc_id"]: r["text"].split(" ")
        for r in docs.select("doc_id", "text").collect()
    }
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(doc_toks)
    for did, rows in by_doc.items():
        toks = doc_toks[did]
        rows.sort(key=lambda r: r["chunk_id"])
        # starts are exactly 0, 48, 96, ... < n_tokens
        assert [r["start"] for r in rows] == list(range(0, len(toks), 48))
        covered = set()
        for r in rows:
            ct = r["chunk_text"].split(" ")
            assert ct == toks[r["start"]: r["start"] + 64]
            assert r["chunk_len"] == len(ct) == min(64, len(toks) - r["start"])
            covered.update(range(r["start"], r["start"] + r["chunk_len"]))
        # every token of the doc appears in at least one chunk
        assert covered == set(range(len(toks)))


def test_pmi_planted_collocation(spark, docs):
    from persistor_spark.analytics import text

    # plant a RARE pair that always co-occurs and never appears apart —
    # P(ab)/(P(a)P(b)) is then 1/P(a), maximal for its frequency class, so
    # it must rank first (planting in EVERY doc would lose to rarer
    # organically-correlated pairs: PMI rewards rarity, by design)
    planted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 50 == 0,
            F.concat(F.col("text"), F.lit(" zzqx wwvk")),
        ).otherwise(F.col("text")),
    )
    n_planted = docs.filter(F.col("doc_id") % 50 == 0).count()
    assert n_planted >= 3
    top = text.pmi_bigrams(planted, min_count=3, k=5).collect()
    assert (top[0]["w1"], top[0]["w2"]) == ("zzqx", "wwvk")
    assert top[0]["n_ab"] == n_planted


def test_assign_splits_properties(docs):
    from persistor_spark.analytics import sampling

    out = sampling.assign_splits(docs, {"train": 0.8, "val": 0.1, "test": 0.1})
    rows = out.select("doc_id", "split").collect()
    # exhaustive + disjoint: exactly one split per row
    assert len(rows) == docs.count()
    counts = {}
    for r in rows:
        counts[r["split"]] = counts.get(r["split"], 0) + 1
    assert set(counts) <= {"train", "val", "test"}
    # proportions roughly honored (hash-uniform; generous tolerance)
    n = len(rows)
    assert abs(counts["train"] / n - 0.8) < 0.08
    # stable under repartition AND rerun: identical row -> split map
    again = {
        r["doc_id"]: r["split"]
        for r in sampling.assign_splits(
            docs.repartition(7), {"train": 0.8, "val": 0.1, "test": 0.1}
        ).select("doc_id", "split").collect()
    }
    assert {r["doc_id"]: r["split"] for r in rows} == again


# ---------------------------------------------------------------- r4 ops


def test_tfidf_top_terms_ranks_rare_terms(spark):
    from persistor_spark.analytics import text

    df = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "banana cherry"), (3, "banana banana banana")],
        "doc_id long, text string",
    )
    out = {(r["doc_id"], r["rank"]): r["term"] for r in text.tfidf_top_terms(df, 2).collect()}
    # 'apple' is rare (df=1) and frequent in doc 1 -> outranks ubiquitous 'banana'
    assert out[(1, 1)] == "apple"
    assert out[(1, 2)] == "banana"
    # doc 3 has only banana
    assert out[(3, 1)] == "banana"
    assert (3, 2) not in out


def test_source_rollup_one_row_per_source(docs):
    from persistor_spark.analytics import text

    out = text.source_quality_rollup(docs)
    assert out.count() == docs.select("source").distinct().count()
    r = out.collect()[0]
    assert 0.0 <= r["avg_quality"] <= 1.0 and 0.0 <= r["pass_fraction"] <= 1.0


def test_quantize_int8_roundtrip_and_plan(embs):
    import numpy as np

    from persistor_spark.analytics import similarity

    out = similarity.quantize_int8(embs)
    rows = out.limit(20).collect()
    raw = {r["vec_id"]: list(r["embedding"]) for r in embs.limit(200).collect()}
    for r in rows:
        assert all(-127 <= c <= 127 for c in r["codes"])
        v = np.asarray(raw[r["vec_id"]], dtype=np.float64)
        # reconstruction error bound: half a quantization step
        assert r["max_abs_err"] <= r["scale"] / 2 + 1e-9
        recon = np.asarray(r["codes"], dtype=np.float64) * r["scale"]
        assert np.max(np.abs(v - recon)) <= r["scale"] / 2 + 1e-6
    # narrow op: no shuffle in the plan
    assert not plan_has_shuffle(out)


def test_normalized_text_canonicalization(spark):
    from persistor_spark.analytics import text

    df = spark.createDataFrame(
        [(1, "Hello,   WORLD!!  42"), (2, "hello world 42")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["norm_md5"] for r in text.normalization_fingerprints(df).collect()}
    # punctuation/case/whitespace variants collapse to the same fingerprint
    assert out[1] == out[2]


def test_select_representatives_policy(spark):
    docs = spark.createDataFrame(
        [(1, "a", 100), (2, "b", 250), (3, "c", 250), (9, "d", 10)],
        "doc_id long, text string, n_chars long",
    )
    # one near-dup cluster {1,2,3}; doc 9 has no edges -> singleton
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "doc_id long, cluster_id long"
    )
    out = {r["cluster_id"]: r for r in dedup.select_representatives(docs, clusters).collect()}
    # max quality wins; 250-char tie breaks to the LOWER id
    assert out[1]["rep_doc_id"] == 2 and out[1]["rep_quality"] == 250
    assert out[1]["n_members"] == 3 and out[1]["n_dropped"] == 2
    # singleton is its own representative
    assert out[9]["rep_doc_id"] == 9 and out[9]["n_members"] == 1


def test_random_projection_matches_numpy_and_is_narrow(embs):
    import numpy as np


    out = similarity.random_projection(embs, in_dim=64, out_dim=16, seed=7)
    assert not plan_has_shuffle(out)
    R = np.asarray(similarity.jl_matrix(64, 16, 7))
    rows = embs.select("vec_id", "embedding").limit(20).collect()
    got = {r["vec_id"]: np.asarray(r["proj"]) for r in out.collect()}
    for r in rows:
        want = R @ np.asarray(r["embedding"], dtype=np.float64)
        assert np.max(np.abs(got[r["vec_id"]] - np.round(want, 4))) <= 1e-4


def test_dup_rate_by_source_charges_later_copy(spark):
    docs = spark.createDataFrame(
        [
            (1, "same text", "srcA"),
            (2, "same text", "srcB"),   # dup, charged to srcB
            (3, "SAME   text", "srcB"), # different after lower() only -> not a dup
            (4, "other", "srcB"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in dedup.dup_rate_by_source(docs).collect()}
    assert out["srcA"]["n_dups"] == 0 and out["srcA"]["n_docs"] == 1
    assert out["srcB"]["n_dups"] == 1 and out["srcB"]["n_docs"] == 3
    assert abs(out["srcB"]["dup_rate"] - 1 / 3) < 1e-9


def test_temperature_mixture_weights_properties(docs):
    from persistor_spark.analytics import sampling

    out = sampling.temperature_mixture_weights(docs, alpha=0.3).collect()
    # weights form a distribution
    assert abs(sum(r["weight"] for r in out) - 1.0) < 1e-3
    # alpha < 1 up-weights small sources: the smallest source gets a larger
    # weight than proportional, the largest a smaller one
    total = sum(r["n_docs"] for r in out)
    smallest = min(out, key=lambda r: r["n_docs"])
    largest = max(out, key=lambda r: r["n_docs"])
    if smallest["n_docs"] != largest["n_docs"]:
        assert smallest["weight"] > smallest["n_docs"] / total
        assert largest["weight"] < largest["n_docs"] / total
    # alpha=1 is exactly proportional
    prop = sampling.temperature_mixture_weights(docs, alpha=1.0).collect()
    for r in prop:
        assert abs(r["weight"] - r["n_docs"] / total) < 1e-5
        assert abs(r["effective_epochs"] - 1.0) < 1e-5


def test_shard_assignments_deterministic_and_dense(docs):
    from persistor_spark.analytics import sampling

    a = sampling.shard_assignments(docs, n_shards=8, seed=7).collect()
    b = sampling.shard_assignments(docs.repartition(13), n_shards=8, seed=7).collect()
    # pure function of (seed, id): repartition-stable
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # positions are dense 1..n within each shard
    by_shard = {}
    for r in a:
        by_shard.setdefault(r["shard"], []).append(r["position"])
    assert set(by_shard) <= set(range(8))
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    # a different seed produces a different order (not a constant map)
    c = sampling.shard_assignments(docs, n_shards=8, seed=8).collect()
    assert sorted(map(tuple, a)) != sorted(map(tuple, c))


def test_select_token_budget_matches_global_cumsum(spark):
    from persistor_spark.analytics import sampling

    # 100 docs, scores with heavy ties, varying token counts
    rows = [(i, float((i * 7) % 5) / 10.0, 10 + (i * 13) % 40) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id int, score double, n_tokens int")
    budget = 1500
    got = sampling.select_token_budget(df, budget, num_partitions=8).collect()
    # naive single-partition reference: greedy by (score desc, doc_id)
    order = sorted(rows, key=lambda r: (-r[1], r[0]))
    cum, expect = 0, {}
    for i, s, n in order:
        cum += n
        if cum > budget:
            break
        expect[i] = (s, n, cum)
    assert {r["doc_id"]: (r["score"], r["n_tokens"], r["cum_tokens"]) for r in got} == expect
    # repartition-stable (range partitioning re-derives boundaries)
    again = sampling.select_token_budget(df.repartition(13), budget, num_partitions=3).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, got))
    # a budget larger than the corpus selects everything
    assert sampling.select_token_budget(df, 10**9, num_partitions=4).count() == 100


def test_select_token_budget_plan_has_no_single_partition_window(spark):
    from persistor_spark.analytics import sampling

    rows = [(i, float(i % 7), 10 + i % 5) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id int, score double, n_tokens int")
    out = sampling.select_token_budget(df, 10**6, num_partitions=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the cumsum window partitions by __pid; the only global ordering is the
    # final presentation sort (rangepartitioning), never SinglePartition
    assert "SinglePartition" not in plan


def test_topk_recall_harness(embs):
    q = embs.filter(F.col("vec_id") < 5)
    truth = similarity.brute_force_topk(embs, q, k=5)
    # exact-vs-itself is perfect recall
    perfect = similarity.topk_recall(truth, truth).collect()
    assert all(r["recall"] == 1.0 and r["n_hits"] == 5 for r in perfect)
    # the production LSH config (proven candidate-superset) also scores 1.0;
    # a starved config (1 table, many planes) cannot beat it
    strong = similarity.topk_recall(
        similarity.cosine_lsh_topk(embs, q, k=5), truth
    ).collect()
    weak = similarity.topk_recall(
        similarity.cosine_lsh_topk(embs, q, k=5, n_planes=8, n_tables=1), truth
    ).collect()
    s = sum(r["recall"] for r in strong) / len(strong)
    w = sum(r["recall"] for r in weak) / len(weak)
    # 16 tables of 4 planes must dominate 1 starved table of 8 planes
    assert w <= s
    assert s > 0.5


def test_rrf_fuse_combines_and_ranks(spark):
    from persistor_spark.analytics import search

    r1 = spark.createDataFrame([(10, 1), (11, 2), (12, 3)], "id int, rank int")
    r2 = spark.createDataFrame([(11, 1), (13, 2)], "id int, rank int")
    out = {r["id"]: (r["rrf"], r["rank"]) for r in search.rrf_fuse([r1, r2], k=4).collect()}
    # 11 appears in both lists -> highest fused score
    assert out[11][1] == 1
    assert out[11][0] == round(1 / 62 + 1 / 61, 6)
    # single-system docs score exactly their one contribution
    assert out[10][0] == round(1 / 61, 6)
    assert out[13][0] == round(1 / 62, 6)
    # rank follows (rrf DESC, id ASC): 10 (1/61) before 13 (1/62)
    assert out[10][1] == 2 and out[13][1] == 3 and out[12][1] == 4


def test_vocab_coverage_shares(spark):
    rows = [(0, "a a a b b c"), (1, "a b d")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["term"]: r for r in text.vocab_coverage(df, top_n=3).collect()}
    # 9 tokens total: a=4, b=3, c=1/d=1 (tie -> 'c' first)
    assert [got[t]["rank"] for t in ("a", "b", "c")] == [1, 2, 3]
    assert abs(got["a"]["share"] - 4 / 9) < 1e-12
    assert abs(got["b"]["cum_share"] - 7 / 9) < 1e-12
    assert abs(got["c"]["cum_share"] - 8 / 9) < 1e-12


def test_split_leakage_counts_cross_pairs(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5)], "a int, b int"
    )
    splits = spark.createDataFrame(
        [(1, "train"), (2, "test"), (3, "train"), (4, "val"), (5, "val")],
        "doc_id int, split string",
    )
    got = {
        (r["split_lo"], r["split_hi"]): (r["n_pairs"], r["n_cross"])
        for r in dedup.split_leakage(pairs, splits).collect()
    }
    # (1,2) and (2,3) cross train/test; (1,3) stays in train; (4,5) in val
    assert got[("test", "train")] == (2, 2)
    assert got[("train", "train")] == (1, 0)
    assert got[("val", "val")] == (1, 0)


def test_duplicate_substring_intervals_merge(spark):
    # ten shared tokens "c0..c9" produce three duplicated 8-grams at
    # positions 3,4,5 in doc 0 (prefix "x y") and 1,2,3 in doc 1 -> ONE
    # maximal island each; doc 2 shares nothing
    shared = " ".join(f"c{i}" for i in range(10))
    rows = [(0, "x y " + shared), (1, shared + " z"), (2, "entirely different words here")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["span_len"])
        for r in dedup.duplicate_substring_intervals(df, gram_len=8).collect()
    }
    assert got[0] == (3, 12, 10)  # tokens 3..12 = the shared run
    assert got[1] == (1, 10, 10)
    assert 2 not in got
    # a coverage gap > gram_len splits islands: two far-apart shared runs
    far = "x " + shared + " " + " ".join(f"f{i}" for i in range(20)) + " " + shared
    df2 = spark.createDataFrame([(0, far), (1, shared)], "doc_id int, text string")
    spans0 = [
        (r["span_start"], r["span_end"])
        for r in dedup.duplicate_substring_intervals(df2, gram_len=8).collect()
        if r["doc_id"] == 0
    ]
    assert len(spans0) == 2


def test_remove_duplicate_substrings_cuts_spans(spark):
    # same fixture as the interval test: the shared 10-token run is cut
    # from both docs, prefixes/suffixes survive, untouched doc passes as-is
    shared = " ".join(f"c{i}" for i in range(10))
    rows = [(0, "x y " + shared), (1, shared + " z"), (2, "entirely different words here")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in dedup.remove_duplicate_substrings(df, gram_len=8).collect()
    }
    assert got[0] == (12, 10, "x y")
    assert got[1] == (11, 10, "z")
    assert got[2] == (4, 0, "entirely different words here")
    # a doc that is ONE duplicated span comes back empty, not dropped
    df2 = spark.createDataFrame([(0, shared), (1, shared)], "doc_id int, text string")
    got2 = {r["doc_id"]: r["clean_text"] for r in
            dedup.remove_duplicate_substrings(df2, gram_len=8).collect()}
    assert got2 == {0: "", 1: ""}


def test_source_dup_matrix_counts_by_canonical_pair(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 5)], "a int, b int"
    )
    sources = spark.createDataFrame(
        [(1, "web"), (2, "web"), (3, "books"), (4, "books"), (5, "web")],
        "doc_id int, source string",
    )
    got = {
        (r["source_lo"], r["source_hi"]): (r["n_pairs"], r["n_cross"])
        for r in dedup.source_dup_matrix(pairs, sources).collect()
    }
    assert got == {("web", "web"): (1, 0), ("books", "web"): (2, 2)}


def test_novelty_fraction_first_owner_wins(spark):
    base = " ".join(f"w{i}" for i in range(20))
    half = " ".join(f"w{i}" for i in range(10)) + " " + " ".join(f"u{i}" for i in range(10))
    rows = [(0, base), (1, base), (2, half)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: (r["n_grams"], r["n_novel"], r["novelty"])
        for r in dedup.novelty_fraction(df, gram_len=8).collect()
    }
    assert got[0] == (13, 13, 1.0)       # first owner of everything it has
    assert got[1] == (13, 0, 0.0)        # verbatim copy of doc 0
    # doc 2: grams starting at pos 1..3 are copies of doc 0's prefix run
    # (w0..w9 only covers 8-grams at positions 1-3); the rest are new
    n_grams, n_novel, novelty = got[2]
    assert n_grams == 13 and n_novel == 10
    assert abs(novelty - round(10 / 13, 4)) < 1e-9


def test_remove_duplicate_substrings_invariants_random_corpus(spark):
    # seeded pseudo-random corpus with planted shared runs: the removal
    # output must (1) be a subsequence of the original token stream,
    # (2) account exactly for n_removed, (3) remove exactly the positions
    # the span finder covers
    import random

    rng = random.Random(1234)
    vocab = [f"v{i}" for i in range(30)]
    shared = [" ".join(rng.choice(vocab) for _ in range(12)) for _ in range(3)]
    rows = []
    for i in range(40):
        toks = [rng.choice(vocab) for _ in range(rng.randint(3, 25))]
        if i % 3 == 0:
            run = shared[i % len(shared)]
            pos = rng.randint(0, len(toks))
            toks = toks[:pos] + run.split(" ") + toks[pos:]
        rows.append((i, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id int, text string")
    cleaned = {
        r["doc_id"]: r for r in dedup.remove_duplicate_substrings(df, gram_len=8).collect()
    }
    spans = {}
    for r in dedup.duplicate_substring_intervals(df, gram_len=8).collect():
        spans.setdefault(r["doc_id"], []).append((r["span_start"], r["span_end"]))
    for i, text in rows:
        orig = text.split(" ")
        out = cleaned[i]
        kept = out["clean_text"].split(" ") if out["clean_text"] else []
        assert out["n_tokens"] == len(orig)
        assert out["n_removed"] == len(orig) - len(kept)
        # subsequence check
        it = iter(orig)
        assert all(any(tok == o for o in it) for tok in kept)
        # exact agreement with the span finder's coverage
        covered = set()
        for lo, hi in spans.get(i, []):
            covered.update(range(lo, hi + 1))
        expect = [t for p, t in enumerate(orig, start=1) if p not in covered]
        assert kept == expect


def test_select_token_budget_monotone_in_budget(spark):
    from persistor_spark.analytics import sampling

    rows = [(i, float((i * 11) % 13), 5 + (i * 7) % 30) for i in range(150)]
    df = spark.createDataFrame(rows, "doc_id int, score double, n_tokens int")
    small = {r["doc_id"] for r in sampling.select_token_budget(df, 500, num_partitions=6).collect()}
    large_rows = sampling.select_token_budget(df, 2000, num_partitions=6).collect()
    large = {r["doc_id"] for r in large_rows}
    # a larger budget can only extend the greedy prefix
    assert small <= large
    # cum_tokens is the exact running sum along (score desc, doc_id)
    ordered = sorted(large_rows, key=lambda r: (-r["score"], r["doc_id"]))
    acc = 0
    for r in ordered:
        acc += r["n_tokens"]
        assert r["cum_tokens"] == acc


def test_boilerplate_stats_flags_source_common_grams(spark):
    # "nav home about" appears in every src0 doc (boilerplate); unique tails
    rows = [
        (0, "nav home about unique zero tail words", "src0"),
        (1, "nav home about different one tail words", "src0"),
        (2, "nav home about third doc tail words", "src0"),
        (3, "other corpus entirely separate content here", "src1"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string, source string")
    got = {r["doc_id"]: r for r in text.boilerplate_stats(df, n=3, min_doc_frac=0.9).collect()}
    # only "nav home about" is in >= 90% of src0 docs
    assert all(got[i]["n_boiler"] == 1 for i in (0, 1, 2))
    assert got[3]["n_boiler"] == 0
    assert got[0]["boiler_frac"] == round(1 / got[0]["n_grams"], 4)


def test_ivfpq_save_load_roundtrip(spark, embs, tmp_path):
    idx = similarity.ivfpq_build(embs, n_centroids=8)
    similarity.ivfpq_save(idx, str(tmp_path / "idx"))
    loaded = similarity.ivfpq_load(spark, str(tmp_path / "idx"))
    assert loaded.cents == idx.cents
    assert loaded.codebooks == idx.codebooks
    q = embs.filter(F.col("vec_id") < 5)
    a = similarity.ivfpq_search(idx, q, k=5).collect()
    b = similarity.ivfpq_search(loaded, q, k=5).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted([(r["query_id"], r["vec_id"], r["cos"], r["rank"]) for r in a]) == sorted(
        [(r["query_id"], r["vec_id"], r["cos"], r["rank"]) for r in b]
    )
    # the persisted cells are laid out as per-cell inverted lists
    import os
    assert any(d.startswith("cid=") for d in os.listdir(tmp_path / "idx" / "cells"))
    # and the probe's broadcast cid-join prunes them dynamically
    plan = (
        similarity.ivfpq_search(loaded, q, k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "dynamicpruning" in plan.lower()


def test_ivfpq_add_appends_without_retraining(spark, embs, tmp_path):
    """FAISS add() analogue: quantizer/codebooks frozen, cells extended; the
    in-memory union and the on-disk parquet append return identical top-k."""
    base = embs.filter(F.col("vec_id") % 2 == 0)
    newb = embs.filter(F.col("vec_id") % 2 == 1)
    idx = similarity.ivfpq_build(base, n_centroids=8)
    n_base = idx.cells.count()
    added = similarity.ivfpq_add(idx, newb)
    # training state untouched, cells grew by exactly the new batch
    assert added.cents == idx.cents and added.codebooks == idx.codebooks
    assert added.cells.count() == n_base + newb.count()
    # encode path is a narrow map: no shuffle in the new-cells plan

    enc = similarity.ivfpq_encode_cells(idx.cents, idx.codebooks, newb)
    assert not plan_has_shuffle(enc)

    # disk append equals the in-memory union
    path = str(tmp_path / "idx")
    similarity.ivfpq_save(idx, path)
    similarity.ivfpq_add_to_disk(spark, path, newb)
    loaded = similarity.ivfpq_load(spark, path)
    q = embs.filter(F.col("vec_id") < 5)
    mem = similarity.ivfpq_search(added, q, k=5).collect()
    dsk = similarity.ivfpq_search(loaded, q, k=5).collect()
    as_t = lambda rows: sorted((r["query_id"], r["vec_id"], r["cos"], r["rank"]) for r in rows)  # noqa: E731
    assert as_t(mem) == as_t(dsk)


def test_lloyd_seeding_survives_sparse_id_spaces(spark, embs):
    """Stride init assumes dense contiguous ids; filtered corpora (even-only
    ids, offset blocks) must fall back to hash seeding instead of training
    zero-codeword quantizers.  Regression for the a60 sf0.1 KeyError."""
    sparse = embs.filter(F.col("vec_id") % 2 == 0).withColumn(
        "vec_id", F.col("vec_id") * 1000 + 7
    )
    cents = similarity.kmeans_train(sparse, n_centroids=8, max_iter=1)
    assert len(cents) == 8
    cbs = similarity.pq_train(sparse, m=8, ksub=8, kmeans_iter=1)
    assert len(cbs) == 8 and all(len(cb) == 8 for cb in cbs)


def test_ivfpq_filtered_search_subset_and_exact(spark, embs):
    """The id_filter selector restricts results to the allowed subset and
    the filtered top-k equals brute force over that subset (clustered
    fixture => probed-cell coverage)."""
    clustered = embs.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x, i: x + F.when(i == F.col("label"), F.lit(10.0)).otherwise(F.lit(0.0)),
        ).alias("embedding"),
    )
    idx = similarity.ivfpq_build(clustered, n_centroids=8)
    q = clustered.filter(F.col("vec_id") < 5)
    got = similarity.ivfpq_search(
        idx, q, k=5, nprobe=4, rerank_factor=24, id_filter=F.col("id") % 3 == 0
    ).collect()
    assert got and all(r["vec_id"] % 3 == 0 for r in got)
    truth = similarity.brute_force_topk(
        clustered.filter(F.col("vec_id") % 3 == 0), q, k=5, exclude_self=True
    ).collect()
    key = lambda rows: sorted((r["query_id"], r["vec_id"]) for r in rows)  # noqa: E731
    assert key(got) == key(truth)


def test_ntile_exact_matches_window_ntile_and_avoids_single_partition(spark):
    from pyspark.sql import Window

    from persistor_spark.analytics import sampling

    # sizes that exercise both ntile branches (remainder and none) plus
    # the total < n edge where every row gets its own bucket
    for n_rows, n_buckets in [(203, 10), (200, 10), (7, 10), (1, 3)]:
        rows = [(i, float((i * 37) % 11)) for i in range(n_rows)]
        df = spark.createDataFrame(rows, "doc_id int, score double")
        order = [F.col("score").asc(), F.col("doc_id").asc()]
        got = {
            r["doc_id"]: r["bucket"]
            for r in sampling.ntile_exact(
                df, n_buckets, order, num_partitions=4
            ).collect()
        }
        want = {
            r["doc_id"]: r["nt"]
            for r in df.withColumn(
                "nt", F.ntile(n_buckets).over(Window.orderBy(*order))
            ).collect()
        }
        assert got == want
    # the a75 hazard: the plan must never collapse to one partition
    df = spark.createDataFrame(
        [(i, float(i % 7)) for i in range(500)], "doc_id int, score double"
    )
    out = sampling.ntile_exact(
        df, 10, [F.col("score").asc(), F.col("doc_id").asc()], num_partitions=8
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_global_row_number_is_dense_and_repartition_stable(spark):
    from persistor_spark.analytics import sampling

    rows = [(i, float((i * 13) % 17)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id int, score double")
    order = [F.col("score").asc(), F.col("doc_id").asc()]
    ranked, total = sampling.global_row_number(df, order, num_partitions=6)
    assert total == 300
    got = ranked.orderBy("rn").collect()
    assert [r["rn"] for r in got] == list(range(1, 301))
    # ranks follow the total ordering exactly
    keys = [(r["score"], r["doc_id"]) for r in got]
    assert keys == sorted(keys)
    # input partitioning must not change the ranks
    again, _ = sampling.global_row_number(df.repartition(23), order, num_partitions=3)
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, ranked.collect()))


def test_r6_entry_primitives_partitioning_independent(spark):
    """The round-6 entry primitives whose VALUES must not depend on the
    physical partitioning: the d27 checksum (commutative combiners), the
    e44 mode aggregate (deterministic struct tiebreak), and the a96
    weighted-sample key cut (pure hash function of the row)."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    for name in ("d27_table_checksum", "e44_user_mode", "a96_weighted_sample"):
        fn = entrymod.queries()[name]
        base = [tuple(r) for r in fn(spark, sf).collect()]
        again = [tuple(r) for r in fn(spark, sf).collect()]
        assert base == again, name
        assert len(base) > 0, name


def test_epoch_upsample_volume_and_determinism(spark):
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    rows = entrymod.queries()["a100_epoch_upsample"](spark, sf).collect()
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r["epoch"])
    # every doc appears with epochs 1..n for some n in [1, 3], and all
    # docs of one source share the same n (the md5 bucket is per-source)
    by_source = {}
    for r in rows:
        by_source.setdefault(r["source"], set()).add(max(per_doc[r["doc_id"]]))
    for doc_id, epochs in per_doc.items():
        n = max(epochs)
        assert sorted(epochs) == list(range(1, n + 1)) and 1 <= n <= 3
    for source, ns in by_source.items():
        assert len(ns) == 1, (source, ns)


# -- round-6 late additions: sorted-neighborhood / edit-distance / baskets ---

def test_sorted_neighborhood_finds_prefix_near_dups(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),   # near-dup of 1
        (3, "zzz totally different text about other things entirely"),
        (4, "mmm middle text sits between the two clusters here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["a"], r["b"])
        for r in dedup.sorted_neighborhood_pairs(df, window=3, threshold=0.5).collect()
    }
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got


def test_sorted_neighborhood_window_limits_candidates(spark):
    # docs 1 and 2 are identical but their sort keys are far apart
    # (window smaller than their rank distance) -> MISSED by design; the
    # recall limitation is the documented trade-off of the method
    rows = [(1, "aaa x y z w v u t")] + [
        (10 + i, f"bbb{i} filler text number {i} pad pad pad") for i in range(8)
    ] + [(2, "zzz x y z w v u t")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["a"], r["b"])
        for r in dedup.sorted_neighborhood_pairs(df, window=2, threshold=0.4).collect()
    }
    assert (1, 2) not in got


def test_sorted_neighborhood_plan_has_no_single_partition_or_cartesian(docs):
    q = dedup.sorted_neighborhood_pairs(docs, window=5, threshold=0.5)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan


def test_edit_distance_pairs_finds_typo_prefixes(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon", 30),
        (2, "alpha beta gamme delta epsilon", 30),   # one substitution
        (3, "alpha beta gamma delta epsilon", 95),   # same tok1, far length band
        (4, "omega beta gamma delta epsilon", 30),   # different first token
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, n_chars long")
    got = {(r["a"], r["b"], r["dist"]) for r in dedup.edit_distance_pairs(df, max_dist=3).collect()}
    assert (1, 2, 1) in got
    # blocking excludes (1,3) [length band] and (1,4) [first token]
    assert all(p[:2] not in {(1, 3), (1, 4)} for p in got)


def test_edit_distance_pairs_adjacent_band_still_matches(spark):
    # length bands differ by exactly 1 -> the neighbor-band explode keeps it
    rows = [(1, "alpha beta gamma", 19), (2, "alpha beta gamma", 21)]
    df = spark.createDataFrame(rows, "doc_id long, text string, n_chars long")
    got = dedup.edit_distance_pairs(df, max_dist=3).collect()
    assert [(r["a"], r["b"], r["dist"]) for r in got] == [(1, 2, 0)]


def test_market_basket_rules_arithmetic(spark):
    from persistor_spark.analytics import profiling

    # 4 baskets: {A,B} x3, {A} x1 -> pair (A,B): n=3, supp=0.75,
    # conf(A->B)=3/4, conf(B->A)=1, lift=(3*4)/(4*3)=1.0
    rows = [(1, "A"), (1, "B"), (2, "A"), (2, "B"), (3, "A"), (3, "B"), (4, "A"),
            (4, "A")]  # duplicate line collapses via distinct
    df = spark.createDataFrame(rows, "bk long, item string")
    got = profiling.market_basket_rules(df, "bk", "item", min_pair_count=3).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["p1"], r["p2"], r["pair_n"]) == ("A", "B", 3)
    assert r["support"] == 0.75 and r["conf_1_2"] == 0.75
    assert r["conf_2_1"] == 1.0 and r["lift"] == 1.0


def test_market_basket_rules_min_count_filters(spark):
    from persistor_spark.analytics import profiling

    rows = [(1, "A"), (1, "B"), (2, "A"), (2, "C")]
    df = spark.createDataFrame(rows, "bk long, item string")
    assert profiling.market_basket_rules(df, "bk", "item", min_pair_count=2).count() == 0


def test_edit_distance_pairs_block_cap_drops_hot_block(spark):
    # 5 docs share the hot first token (block size 5 > cap 4) -> dropped;
    # the pair in the small block survives
    rows = [(i, "the common text here", 20) for i in range(1, 6)] + [
        (10, "rare alpha beta gamma", 21),
        (11, "rare alpha beta gamme", 21),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, n_chars long")
    got = {(r["a"], r["b"]) for r in dedup.edit_distance_pairs(df, 3, max_block_size=4).collect()}
    assert got == {(10, 11)}
    uncapped = {(r["a"], r["b"]) for r in dedup.edit_distance_pairs(df, 3).collect()}
    assert (10, 11) in uncapped and len(uncapped) > 1


def test_blocked_candidate_pairs_subblocks_bound_hot_block(spark):
    """r6 VERDICT #3: the entity-resolution hot-block cap must be enforced
    in code — an oversized block sub-blocks (salt-split by id rank), so
    candidate volume is ~n*cap/2 instead of n^2/2, while blocks under the
    cap are split-free (capped == uncapped there)."""
    # hot block: 60 rows of one key (cap 10 -> 6 sub-blocks of 10);
    # normal block: 5 rows of another key
    rows = [("hot", i, float(i)) for i in range(60)] + [
        ("cold", 100 + i, float(i)) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "blk string, cid long, bal double")
    capped = dedup.blocked_candidate_pairs(df, ["blk"], "cid", max_block_size=10)
    got = capped.groupBy("blk").count().collect()
    counts = {r["blk"]: r["count"] for r in got}
    # 6 sub-blocks x C(10,2) = 270, not C(60,2) = 1770
    assert counts["hot"] == 6 * 45
    assert counts["cold"] == 10  # C(5,2): untouched by the cap
    # the cold block's pair set is identical with and without the cap
    cold_pairs = lambda d: {  # noqa: E731
        (r["cid_a"], r["cid_b"])
        for r in d.filter(F.col("blk") == "cold").collect()
    }
    uncapped = dedup.blocked_candidate_pairs(df, ["blk"], "cid")
    assert cold_pairs(capped) == cold_pairs(uncapped)
    # suffix contract: non-block columns come back twice
    assert set(capped.columns) == {"blk", "cid_a", "bal_a", "cid_b", "bal_b"}
    # sub-blocking is rank-contiguous: every capped pair is within one
    # sub-block, so |rank gap| < cap for ids assigned in sort order
    assert all(
        abs(a - b) < 10
        for a, b in {
            (r["cid_a"], r["cid_b"])
            for r in capped.filter(F.col("blk") == "hot").collect()
        }
    )


def test_histogram_sketch_additive_and_bounded(spark):
    from persistor_spark.analytics import sketches

    df = spark.range(1000).select((F.col("id") % 97).cast("double").alias("x"))
    a = df.filter(F.col("x") < 50)
    b = df.filter(F.col("x") >= 50)
    whole = {(r["bin"], r["n"]) for r in sketches.histogram_sketch(df, "x", 0, 100, 16).collect()}
    ga = {r["bin"]: r["n"] for r in sketches.histogram_sketch(a, "x", 0, 100, 16).collect()}
    gb = {r["bin"]: r["n"] for r in sketches.histogram_sketch(b, "x", 0, 100, 16).collect()}
    merged = {(k, ga.get(k, 0) + gb.get(k, 0)) for k in set(ga) | set(gb)}
    # hist(A ∪ B) == hist(A) + hist(B) bin-wise: the mergeability contract
    assert whole == merged
    assert all(0 <= k < 16 for k, _ in whole)


def test_histogram_quantiles_within_bin_width(spark):
    from persistor_spark.analytics import sketches

    df = spark.range(10000).select(F.col("id").cast("double").alias("x"))
    bins = sketches.histogram_sketch(df, "x", 0, 10000, 128)
    got = {r["q"]: r["est"] for r in
           sketches.histogram_quantiles(bins, [0.25, 0.5, 0.9], 0, 10000, 128).collect()}
    width = 10000 / 128
    # uniform data: estimate within one bin width of the true quantile
    for q, est in got.items():
        assert abs(est - q * 10000) <= width, (q, est)


def test_histogram_quantiles_q0_first_bin_floor(spark):
    """q=0 must return the floor of the first POPULATED bin, not vanish
    (r6 ADVICE: the (cum_prev < t) condition can never hold for t=0)."""
    from persistor_spark.analytics import sketches

    # values live in [300, 400): first populated bin is bin 3 of width 100
    df = spark.createDataFrame([(305.0,), (350.0,), (399.0,)], "x double")
    bins = sketches.histogram_sketch(df, "x", 0, 1000, 10)
    got = {r["q"]: r["est"] for r in
           sketches.histogram_quantiles(bins, [0.0, 0.5, 1.0], 0, 1000, 10).collect()}
    assert set(got) == {0.0, 0.5, 1.0}
    assert got[0.0] == 300.0  # first populated bin's floor, exactly one row
    assert got[1.0] == 400.0  # rank N lands at the top of bin 3


def test_histogram_clamps_out_of_range(spark):
    from persistor_spark.analytics import sketches

    df = spark.createDataFrame([(-5.0,), (50.0,), (999.0,)], "x double")
    got = {r["bin"]: r["n"] for r in sketches.histogram_sketch(df, "x", 0, 100, 10).collect()}
    assert got == {0: 1, 5: 1, 9: 1}


def test_kmv_estimate_accuracy_and_exact_branch(spark):
    from persistor_spark.analytics import sketches

    # two groups sharing 1000 of their items -> known distinct/overlap
    a = spark.range(3000).select(
        F.lit("ga").alias("source"), F.concat(F.lit("i-"), F.col("id")).alias("x")
    )
    b = spark.range(2000, 6000).select(
        F.lit("gb").alias("source"), F.concat(F.lit("i-"), F.col("id")).alias("x")
    )
    sk = sketches.kmv_sketch(a.unionAll(b), "x", k=256, group_col="source")
    est = {r["g"]: r["est_distinct"] for r in sketches.kmv_estimate(sk, k=256).collect()}
    # KMV std err ~ 1/sqrt(k-2) ~ 6.3%; allow 3 sigma
    assert abs(est["ga"] - 3000) / 3000 < 0.2
    assert abs(est["gb"] - 4000) / 4000 < 0.2
    pair = sketches.kmv_pair_estimates(sk, k=256).collect()[0]
    assert abs(pair["est_union"] - 6000) / 6000 < 0.2
    # true jaccard = 1000/6000; intersection = 1000 (looser: product of errors)
    assert abs(pair["est_jaccard"] - 1 / 6) < 0.1
    assert abs(pair["est_intersection"] - 1000) / 1000 < 0.5
    # unsaturated sketch (distinct < k) -> estimate is EXACT
    small = spark.createDataFrame(
        [("gs", f"t{i % 17}") for i in range(100)], "source string, x string"
    )
    ssk = sketches.kmv_sketch(small, "x", k=64, group_col="source")
    assert ssk.count() == 17
    sest = sketches.kmv_estimate(ssk, k=64).collect()[0]["est_distinct"]
    assert sest == 17.0


def test_kmv_two_level_matches_one_level(spark):
    from pyspark.sql import Window

    from persistor_spark.analytics import sketches
    from persistor_spark.analytics.dedup import md5_hash64

    items = spark.range(5000).select(
        (F.col("id") % 3).cast("string").alias("source"),
        F.concat(F.lit("v-"), F.col("id")).alias("x"),
    )
    two = sketches.kmv_sketch(items, "x", k=64, group_col="source", shards=32)
    # direct one-level bottom-k (the oracle's form)
    hashes = (
        items.select(F.col("source").alias("g"), md5_hash64(F.col("x")).alias("h"))
        .distinct()
    )
    w = Window.partitionBy("g").orderBy("h")
    one = hashes.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 64
    ).drop("rn")
    assert two.exceptAll(one).count() == 0
    assert one.exceptAll(two).count() == 0


def test_image_dhash_matches_analytic_formula(spark):
    from persistor_spark.analytics import multimodal

    docs = spark.createDataFrame(
        [(did, "x y z", "en", "s", 5) for did in (0, 3, 366)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    media = multimodal.synthesize_media(spark, docs)
    got = {
        r["media_id"]: r["dhash"]
        for r in multimodal.image_dhash(media).collect()
    }

    def analytic(did):
        w, h = did % 120 + 8, did % 90 + 8
        lum = lambda x, y: (
            0.2126 * ((x * 7 + did) % 256)
            + 0.7152 * ((y * 13 + did * 3) % 256)
            + 0.0722 * ((x + y + did * 5) % 256)
        )
        bits = 0
        for j in range(9):
            for i in range(7):
                sy = j * h // 9
                if lum((i + 1) * w // 8, sy) > lum(i * w // 8, sy):
                    bits |= 1 << (j * 7 + i)
        return bits

    for did in (0, 3, 366):
        assert got[f"media-{did}"] == analytic(did)
    # 63-bit contract: always non-negative in a signed 64-bit lane
    assert all(v >= 0 for v in got.values())


def test_global_cumsum_matches_window_and_total(spark):
    from pyspark.sql import Window

    from persistor_spark.analytics.sampling import global_cumsum

    df = spark.range(1000).select(
        F.col("id"), (F.pmod(F.col("id") * 37, F.lit(100))).alias("v")
    )
    got, total = global_cumsum(df, "v", [F.col("v").desc(), F.col("id").asc()], "cum")
    assert total == df.agg(F.sum("v")).collect()[0][0]
    w = Window.orderBy(F.col("v").desc(), F.col("id").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = df.withColumn("cum", F.sum("v").over(w))
    assert got.select("id", "v", "cum").exceptAll(want.select("id", "v", "cum")).count() == 0
    assert want.select("id", "v", "cum").exceptAll(got.select("id", "v", "cum")).count() == 0
    # no SinglePartition exchange in the distributed plan
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_personalized_pagerank_mass_and_locality(spark):
    from persistor_spark.analytics import graph

    # path graph a-b-c-d (symmetric); seed at a
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"), ("c", "d"), ("d", "c")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    r = graph.personalized_pagerank(edges, seeds, iterations=2)
    ranks = {row["node"]: row["rank"] for row in r.collect()}
    # total mass conserved (symmetric graph, no dangling loss): sums to 1
    assert abs(sum(ranks.values()) - 1.0) < 1e-4
    # seed keeps the restart mass; 2 rounds cannot reach d (3 hops)
    assert ranks["a"] > ranks.get("c", 0.0)
    assert "d" not in ranks
    # hand-computed rounds: r0={a:1}; r1={a:.15, b:.85};
    # r2={a:.15+.85*(.85/2)=.51125, b:.85*.15=.1275, c:.85*(.85/2)=.36125}
    assert ranks == {"a": 0.51125, "b": 0.1275, "c": 0.36125}


def test_personalized_pagerank_dedups_and_renames_seeds(spark):
    """r6 ADVICE: duplicate seed rows must not inflate |S| or double-count
    restart mass, and any 1-column seed frame is accepted (bfs parity)."""
    from persistor_spark.analytics import graph

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"), ("c", "d"), ("d", "c")],
        "src string, dst string",
    )
    clean = spark.createDataFrame([("a",)], "node string")
    dirty = spark.createDataFrame([("a",), ("a",), ("a",)], "seed_doc string")
    want = {r["node"]: r["rank"]
            for r in graph.personalized_pagerank(edges, clean, iterations=2).collect()}
    got = {r["node"]: r["rank"]
           for r in graph.personalized_pagerank(edges, dirty, iterations=2).collect()}
    assert got == want


def test_column_stats_drift_exact_counts(spark):
    from persistor_spark.analytics.profiling import column_stats_drift

    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, None), ("b", 3, 30.0), ("b", 4, 50.0)],
        "half string, k long, v double",
    )
    out = {r["column"]: r for r in column_stats_drift(df, "half", ["k", "v"]).collect()}
    assert out["k"]["n_a"] == 2 and out["k"]["n_b"] == 2
    assert out["v"]["nulls_a"] == 1 and out["v"]["nulls_b"] == 0
    assert out["v"]["min_b"] == 30.0 and out["v"]["max_b"] == 50.0
    assert out["v"]["avg_delta"] == round(40.0 - 10.0, 4)


# ---------------------------------------------------------------------------
# NULL / NaN / zero-edge hardening (late-r7 self-review findings)
# ---------------------------------------------------------------------------


def test_bloom_probe_never_false_negative_on_duplicates(spark):
    from persistor_spark.analytics import sketches

    members = spark.createDataFrame([("x",), ("y",), ("z",)], "doc string")
    bits = sketches.bloom_bits(members, "doc")
    # probe contains DUPLICATE rows for a true member: must still be true
    probe = spark.createDataFrame([("x",), ("x",), ("w",)], "doc string")
    got = {r["doc"]: r["maybe_member"] for r in
           sketches.bloom_probe(probe, bits, "doc").distinct().collect()}
    assert got["x"] is True  # was False: 2k matched rows != k


def test_hll_and_kmv_ignore_null_items(spark):
    from persistor_spark.analytics import sketches

    with_nulls = spark.createDataFrame(
        [("a",), ("b",), ("c",), (None,), (None,)], "doc string"
    )
    clean = spark.createDataFrame([("a",), ("b",), ("c",)], "doc string")
    regs_n = sketches.hll_registers(with_nulls, "doc")
    regs_c = sketches.hll_registers(clean, "doc")
    assert regs_n.filter("register is null").count() == 0
    assert sketches.hll_estimate(regs_n) == sketches.hll_estimate(regs_c)

    kv = spark.createDataFrame(
        [("g1", "a"), ("g1", "b"), ("g1", None)], "g string, doc string"
    )
    sk = sketches.kmv_sketch(kv, "doc", k=4, group_col="g")
    assert sk.filter("h is null").count() == 0
    est = sketches.kmv_estimate(sk, k=4).collect()[0]["est_distinct"]
    assert est == 2.0  # unsaturated sketch counts exactly, NULL excluded


def test_histogram_sketch_excludes_null_and_nan(spark):
    from persistor_spark.analytics import sketches

    df = spark.createDataFrame(
        [(1.0,), (2.0,), (float("nan"),), (None,)], "v double"
    )
    bins = sketches.histogram_sketch(df, "v", lo=0.0, hi=4.0, n_bins=4)
    rows = {r["bin"]: r["n"] for r in bins.collect()}
    assert None not in rows
    assert sum(rows.values()) == 2  # NaN not silently counted in bin 0


def test_snapshot_diff_null_text_is_presence_not_absence(spark):
    from persistor_spark.analytics import profiling

    old = spark.createDataFrame(
        [(1, None), (2, "b"), (3, None)], "doc_id int, text string"
    )
    new = spark.createDataFrame(
        [(2, "b2"), (3, None), (4, "d")], "doc_id int, text string"
    )
    got = {r["id"]: r["status"] for r in
           profiling.snapshot_diff(old, new).collect()}
    # id=1: NULL text in old only -> removed (was misreported 'added')
    assert got == {1: "removed", 2: "changed", 3: "unchanged", 4: "added"}


def test_mixture_fractions_zero_budget_means_zero(spark):
    from persistor_spark.analytics import sampling

    df = spark.createDataFrame([("s1",)] * 10 + [("s2",)] * 10, "source string")
    fr = sampling.mixture_fractions(df, "source", {"s1": 1, "s2": 1}, total_rows=0)
    assert all(v == 0.0 for v in fr.values())  # was: full anchor mixture


def test_temperature_sample_counts_match_published_weights(spark, docs):
    """temperature_sample materializes the a47 weights; pin the per-stratum
    sampled counts to the weights table so the two code paths cannot
    silently drift."""
    import math

    from persistor_spark.analytics import sampling

    total_n = 400
    sampled = sampling.temperature_sample(docs, total_n, alpha=0.3)
    got = {r["source"]: r["cnt"] for r in
           sampled.groupBy("source").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    weights = {r["source"]: (r["weight"], r["n_docs"]) for r in
               sampling.temperature_mixture_weights(docs, alpha=0.3).collect()}
    expected = {
        s: min(math.floor(round(w, 6) * total_n + 1e-6), n)
        for s, (w, n) in weights.items()
    }
    expected = {s: c for s, c in expected.items() if c > 0}
    assert got == expected


def test_media_decode_survives_null_and_empty_blobs(spark):
    from persistor_spark.analytics import multimodal

    rows = [
        ("m1", "image", None),
        ("m2", "image", b""),
        ("m3", "audio", None),
        ("m4", "video", b"junk-not-avi"),
    ]
    df = spark.createDataFrame(rows, "media_id string, media_type string, content binary")
    # none of these may kill the stage; each path degrades per-row instead
    assert multimodal.image_dhash(df).count() == 2  # dhash 0 for bad blobs
    audio = multimodal.extract_audio_features_real(df).collect()
    assert len(audio) == 1 and audio[0]["n_samples"] == 0
    assert multimodal.sample_frames_real(df).count() == 0  # bad clip skipped


def test_repartition_for_decode_byte_balances_skewed_media(spark):
    import pyspark.sql.functions as SF

    from persistor_spark.analytics import multimodal

    big = spark.range(2).select(
        SF.format_string("big%d", SF.col("id")).alias("media_id"),
        SF.lit("video").alias("media_type"),
        SF.expr("cast(repeat('x', 200000) as binary)").alias("content"),
    )
    small = spark.range(400).select(
        SF.format_string("sm%04d", SF.col("id")).alias("media_id"),
        SF.lit("image").alias("media_type"),
        SF.expr("cast(repeat('y', 100) as binary)").alias("content"),
    )
    target = 100_000
    out = multimodal.repartition_for_decode(big.unionByName(small), target)
    # AQE would re-coalesce these tiny test partitions (they're far below
    # its 64MB advisory size); at the production 256MB target it leaves
    # them alone — disable coalescing to observe the bin layout itself
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        per_part = (
            out.withColumn("__p", SF.spark_partition_id())
            .groupBy("__p")
            .agg(SF.sum(SF.length("content")).alias("bytes"))
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    # the old row-quantile range partitioning put ALL 440KB in one
    # partition; hash-on-bin must actually split, and no partition may
    # exceed the two giant bins' worst-case co-location
    sizes = sorted((r["bytes"] for r in per_part), reverse=True)
    assert len(sizes) >= 2
    assert sizes[0] <= 2 * 200000 + 40000
    assert sizes[0] < 440000


def test_minhash_short_docs_do_not_collide(spark):
    from persistor_spark.analytics import dedup

    shorts = [(i, "hi") for i in range(30)]  # < k=3 tokens each
    real = [(100, "a b c d e f g"), (101, "a b c d e f g")]
    df = spark.createDataFrame(shorts + real, "doc_id long, text string")
    # without verification the sentinel signature used to pair ALL shorts
    cands = dedup.minhash_lsh_pairs(df, 0.8, verify=False)
    assert cands.filter((F.col("a") < 100) & (F.col("b") < 100)).count() == 0
    pairs = dedup.minhash_lsh_pairs(df, 0.8)
    assert [(r["a"], r["b"]) for r in pairs.collect()] == [(100, 101)]


def test_ivf_topk_sparse_ids_falls_back_to_hash_seeding(spark):
    from persistor_spark.analytics import similarity

    # all-ODD ids: the dense stride `vec_id % step == 0` matches nothing
    vecs = spark.range(50).select(
        (F.col("id") * 2 + 1).alias("vec_id"),
        F.array(
            (F.col("id") % 7).cast("double"),
            (F.col("id") % 5).cast("double"),
            F.lit(1.0),
        ).alias("embedding"),
    )
    got = similarity.ivf_topk(vecs, vecs.limit(3), k=2, n_centroids=4, nprobe=4)
    assert got.count() > 0  # was silently empty


def test_lm_perplexity_scores_oov_batch(spark):
    from persistor_spark.analytics import text as T

    train = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the dog sat on the rug")],
        "doc_id long, text string",
    )
    uni, bi = T.lm_train(train)
    new = spark.createDataFrame(
        [(10, "the cat sat"), (11, "zx qv wq jjk pqr")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in
           T.lm_perplexity_scores(new, uni=uni, bi=bi).collect()}
    # fully-OOV doc used to score NULL (inner join dropped every token);
    # now it gets the smoothed floor and scores WORSE than in-vocab text
    assert got[11]["uni_nll"] is not None
    assert got[11]["uni_nll"] > got[10]["uni_nll"]
    assert got[11]["bi_nll"] is not None and got[11]["bi_nll"] > got[10]["bi_nll"]


def test_bm25_empty_corpus(spark):
    from persistor_spark.analytics import search as S

    empty = spark.createDataFrame([], "doc_id long, text string")
    idx = S.build_index(empty)
    assert idx.n_docs == 0
    assert S.search(idx, ["anything"]).count() == 0
