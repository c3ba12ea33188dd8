"""Dedup / similarity / text-analysis / multimodal operator tests."""

import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank"),
        (1, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 0
        (2, "completely different content about spark query optimization today"),
        (3, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 0
        (4, "le chat est dans la maison et il regarde les oiseaux dans le jardin"),
        (5, "der hund ist mit der katze und die kinder sind zu hause"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"]).cache()


def test_exact_dedup(docs):
    from chronographer_spark.operators.dedup import duplicate_groups, exact_dedup

    kept = exact_dedup(docs)
    ids = {r.doc_id for r in kept.collect()}
    assert 3 not in ids and 0 in ids  # min-id keeper
    assert len(ids) == 5
    groups = duplicate_groups(docs).collect()
    assert len(groups) == 1 and groups[0].n_dups == 2 and groups[0].keeper == 0


def test_minhash_near_dup(docs):
    from chronographer_spark.operators.dedup import minhash_dedup

    pairs = minhash_dedup(docs, threshold=0.5).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 1) in got or (0, 3) in got  # near-dup found
    assert (0, 3) in got  # exact dup always jaccard 1.0
    assert all(not (a == 2 or b == 2) for a, b in got)  # unrelated doc clean


def test_simhash(docs, spark):
    from chronographer_spark.operators.dedup import simhash64, simhash_candidates

    sig = simhash64(docs)
    sigs = {r.doc_id: r.simhash for r in sig.collect()}
    assert len(sigs) == 6
    assert sigs[0] == sigs[3]  # identical text -> identical simhash
    cands = simhash_candidates(sig).collect()
    ham = {(r.id_a, r.id_b): r.hamming for r in cands}
    if (0, 3) in ham:
        assert ham[(0, 3)] == 0


def test_cross_corpus_contamination(spark):
    """Decontamination op: a test doc copied from train scores 1.0; a
    clean doc scores low; the max_train_df skew guard drops boilerplate
    shingles from the join without inflating the denominator."""
    from chronographer_spark.operators.dedup import cross_corpus_contamination

    train = spark.createDataFrame(
        [
            (0, "the model trained on this exact benchmark answer text"),
            (1, "totally unrelated training content about cooking pasta"),
            (2, "common boilerplate common boilerplate common boilerplate"),
            (3, "common boilerplate common boilerplate common boilerplate"),
            (4, "common boilerplate common boilerplate common boilerplate"),
        ],
        ["doc_id", "text"],
    )
    test = spark.createDataFrame(
        [
            (100, "the model trained on this exact benchmark answer text"),  # leak
            (101, "fresh evaluation question nobody has seen before today"),
            (102, "common boilerplate common boilerplate common boilerplate"),
        ],
        ["doc_id", "text"],
    )
    out = cross_corpus_contamination(train, test, shingle_n=3, min_score=0.5)
    flagged = {(r["test_id"], r["train_id"]): r["score"] for r in out.collect()}
    assert flagged[(100, 0)] == 1.0
    assert not any(t == 101 for t, _ in flagged)

    # skew guard: boilerplate shingles (train-df 3 > cap 2) leave the join,
    # so the boilerplate test doc is no longer flagged against anyone
    guarded = cross_corpus_contamination(
        train, test, shingle_n=3, max_train_df=2, min_score=0.5
    )
    g = {(r["test_id"], r["train_id"]) for r in guarded.collect()}
    assert (100, 0) in g
    assert not any(t == 102 for t, _ in g)


def test_exact_first_clusters_equal_direct_pipeline(spark):
    """The exact-dedup-first composition must produce EXACTLY the clusters
    of the direct near-dup pipeline (identical texts share signatures,
    buckets, and Jaccard scores — connectivity is invariant)."""
    from chronographer_spark.linking.canonicalize import connected_components
    from chronographer_spark.operators.dedup import (
        minhash_dedup,
        near_dup_clusters_exact_first,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    params = dict(threshold=0.6, num_hashes=8, bands=2, shingle_n=1)
    fast = {
        (r["doc_id"], r["cluster"])
        for r in near_dup_clusters_exact_first(docs, **params).collect()
    }
    pairs = minhash_dedup(docs, **params)
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    nodes = docs.select(F.col("doc_id").alias("node"))
    direct = {
        (r["node"], r["component"])
        for r in connected_components(edges, all_nodes=nodes).collect()
    }
    assert fast == direct


def test_simhash_block_candidates_guaranteed_recall(spark):
    """Pigeonhole guarantee: with n_blocks blocks, any pair at hamming
    <= n_blocks-1 shares a clean block and MUST be a candidate — including
    pairs differing only in TOP bits, which the round-1 single-prefix
    bucketing missed."""
    from chronographer_spark.operators.dedup import simhash_candidates

    base = 0b1011_0110_1100_0011_1010_0101_0110_1001
    rows = [
        (0, base),
        (1, base ^ (1 << 31)),            # top bit flipped: hamming 1
        (2, base ^ (1 << 31) ^ (1 << 23)),  # two high blocks touched: hamming 2
        (3, base ^ 0b111),                # low bits: hamming 3
        (4, base ^ 0xFFFF00FF),           # far away
    ]
    sig = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_candidates(sig, bits=32, n_blocks=4, max_hamming=3).collect()
    }
    assert got[(0, 1)] == 1 and got[(0, 2)] == 2 and got[(0, 3)] == 3
    assert all(4 not in pair for pair in got)


def test_ngram_jaccard_values(docs, spark):
    from chronographer_spark.operators.dedup import ngram_jaccard

    pairs = spark.createDataFrame([(0, 3), (0, 2)], ["id_a", "id_b"])
    out = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard(docs, pairs).collect()}
    assert out[(0, 3)] == 1.0
    assert out[(0, 2)] == 0.0


def test_embedding_near_dups(spark):
    from chronographer_spark.operators.dedup import embedding_near_dups

    rows = [
        (0, [1.0, 0.0, 2.0, 0.5]),
        (1, [1.0, 0.01, 2.0, 0.5]),   # near-dup of 0
        (2, [-1.0, 5.0, 0.0, -2.0]),  # far
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = embedding_near_dups(emb, threshold=0.99)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(0, 1)}


def test_brute_force_topk_self_nearest(spark):
    from chronographer_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = brute_force_topk(emb, queries, k=3).collect()
    by_q = {}
    for r in top:
        by_q.setdefault(r.query_id, []).append((r.rank, r.vec_id, r.cosine))
    for qid, rows in by_q.items():
        rows.sort()
        assert rows[0][1] == qid  # rank-1 neighbor is the query itself
        assert abs(rows[0][2] - 1.0) < 1e-9


def test_lsh_topk_agrees_with_brute_force_on_top1(spark):
    from chronographer_spark.operators.similarity import brute_force_topk, lsh_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    bf = brute_force_topk(emb, queries, k=1).collect()
    ann = lsh_topk(emb, queries, k=1, n_planes=4, n_tables=2).collect()
    # the query vector itself always collides with itself -> top1 identical
    assert ann[0].vec_id == bf[0].vec_id == 0


def test_language_id(docs):
    from chronographer_spark.operators.text import language_id

    out = {r.doc_id: r.lang_pred for r in language_id(docs).collect()}
    assert out[0] == "en" and out[4] == "fr" and out[5] == "de"


def test_quality_and_tokens(docs):
    from chronographer_spark.operators.text import quality_score, token_counts

    q = quality_score(docs).filter(F.col("doc_id") == 0).first()
    assert 0.0 <= q.quality <= 1.0
    assert q.n_tokens == 13
    t = token_counts(docs).filter(F.col("doc_id") == 0).first()
    assert t.n_ws_tokens == 13
    assert t.n_subword_est >= 13


def test_fingerprints_stable_under_edit(docs, spark):
    from chronographer_spark.operators.text import fingerprints

    fp = {r.doc_id: (r.fp_md5, r.fp_winnow) for r in fingerprints(docs).collect()}
    assert fp[0][0] == fp[3][0]
    assert fp[0][1] == fp[3][1]
    assert fp[0][0] != fp[1][0]


def test_multimodal_features_deterministic(spark):
    from chronographer_spark.operators.multimodal import (
        decode_and_featurize,
        sample_frames,
        synthetic_assets,
    )

    assets = synthetic_assets(spark, n=9).cache()
    f1 = decode_and_featurize(assets, dim=8).toPandas().sort_values("asset_id")
    f2 = decode_and_featurize(assets, dim=8).toPandas().sort_values("asset_id")
    assert len(f1) == 9
    pd.testing.assert_frame_equal(f1.reset_index(drop=True), f2.reset_index(drop=True))
    assert all(len(v) == 8 for v in f1.feat)

    frames = sample_frames(assets, every_ms=1000).toPandas()
    # 3 videos x 5s -> 5 frames each
    assert len(frames) == 15
    assert set(frames.groupby("asset_id").size()) == {5}


def test_multimodal_real_decode_raises(spark):
    from chronographer_spark.operators.multimodal import (
        decode_and_featurize,
        synthetic_assets,
    )

    assets = synthetic_assets(spark, n=3)
    with pytest.raises(Exception, match="NotImplementedError|decode"):
        decode_and_featurize(assets, stub=False).collect()


def test_match_sequence_skip_till_next(spark):
    """CEP funnel semantics: each step binds to the EARLIEST event strictly
    after the previous step; the time budget anchors at step 0; every
    anchor event starts its own match attempt."""
    import datetime as dt

    from chronographer_spark.operators.sequence import match_sequence

    T = dt.datetime
    rows = [
        # user 1: A@0, B@10, B@20, C@30 -> match picks B@10 then C@30
        (1, 10, "A", T(2024, 1, 1, 0, 0, 0)),
        (1, 11, "B", T(2024, 1, 1, 0, 0, 10)),
        (1, 12, "B", T(2024, 1, 1, 0, 0, 20)),
        (1, 13, "C", T(2024, 1, 1, 0, 0, 30)),
        # user 2: C precedes B -> no match
        (2, 20, "A", T(2024, 1, 1, 0, 0, 0)),
        (2, 21, "C", T(2024, 1, 1, 0, 0, 5)),
        (2, 22, "B", T(2024, 1, 1, 0, 0, 9)),
        # user 3: full chain but C beyond the 60s budget -> no match
        (3, 30, "A", T(2024, 1, 1, 0, 0, 0)),
        (3, 31, "B", T(2024, 1, 1, 0, 0, 10)),
        (3, 32, "C", T(2024, 1, 1, 0, 2, 0)),
        # user 1 second anchor: A@40 -> no B after it -> no match
        (1, 14, "A", T(2024, 1, 1, 0, 0, 40)),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "event_id", "event_type", "ts"])
    got = match_sequence(
        ev, steps=["A", "B", "C"], on=["user_id"], within_seconds=60
    ).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["user_id"], r["id_0"], r["id_1"], r["id_2"], r["span_seconds"]) == (
        1, 10, 11, 13, 30
    )


def test_kmeans_separates_obvious_clusters(spark):
    """Two tight groups around (0,0) and (10,10): 1 round of Lloyd from the
    first-2 init must label each group with its own centroid, and the final
    centroids must be the (grid-snapped) group means."""
    from chronographer_spark.operators.clustering import kmeans

    rows = [
        (0, [0.0, 0.1]), (1, [10.0, 10.1]),
        (2, [0.1, 0.0]), (3, [9.9, 10.0]), (4, [0.2, 0.2]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned, cents = kmeans(df, k=2, iterations=2)
    got = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    assert got[0] == got[2] == got[4]
    assert got[1] == got[3]
    assert got[0] != got[1]
    cd = dict(cents)
    assert cd[got[0]] == [0.1, 0.1]  # mean of (0,.1),(.1,0),(.2,.2), snapped
    assert cd[got[1]] == [9.95, 10.05]


def test_kmeans_drops_empty_cluster(spark):
    """Seeds 0 and 1 are identical vectors, so every point (including seed 1
    itself) ties to centroid 0 at equal distance and the tie-break sends it
    to the lower cid: cluster 1 is empty after round 1 and drops out of the
    next round's centroid set (documented contract)."""
    from chronographer_spark.operators.clustering import kmeans

    rows = [
        (0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [10.0, 10.0]),
        (3, [0.2, 0.0]), (4, [10.1, 9.9]), (5, [0.1, 0.1]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned, cents = kmeans(df, k=3, iterations=3)
    clusters = {r["cluster"] for r in assigned.collect()}
    assert len(clusters) == len([c for c, _ in cents]) == 2


def test_semantic_dedup_drops_later_near_dup(spark):
    """Two tight embedding groups; within each cluster only the earliest
    member of a >=threshold chain survives; the cross-cluster pair (0, 1)
    is never compared even though their cosine is computed against the same
    rule — the SemDeDup recall trade-off, pinned here."""
    from chronographer_spark.operators.dedup import semantic_dedup

    rows = [
        (0, [1.0, 0.0]), (1, [0.0, 1.0]),          # seeds of the 2 clusters
        (2, [0.99, 0.05]),                          # near-dup of 0 -> dropped
        (3, [0.05, 0.99]),                          # near-dup of 1 -> dropped
        (4, [0.6, 0.8]),                            # cluster 1, below thr vs 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    r = semantic_dedup(df, k=2, iterations=1, threshold_x1e6=950000)
    got = {row["vec_id"]: (row["cluster"], row["kept"]) for row in r.collect()}
    assert got[0][1] and got[1][1]                  # earliest members kept
    assert not got[2][1] and not got[3][1]          # dominated by earlier
    assert got[4][1]                                # same cluster, below thr
    assert got[2][0] == got[0][0] and got[3][0] == got[1][0] == got[4][0]


def test_semantic_dedup_trained_centroids_skip_kmeans(spark):
    """Passing a trained codebook must route assignment map-only against
    those centroids and produce the same drops as an equivalent fit."""
    from chronographer_spark.operators.dedup import semantic_dedup

    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.98, 0.1])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    r = semantic_dedup(df, threshold_x1e6=950000, centroids=cents)
    got = {row["vec_id"]: (row["cluster"], row["kept"]) for row in r.collect()}
    assert got == {0: (0, True), 1: (1, True), 2: (0, False)}


def test_tfidf_hand_computed(spark):
    """3 docs; 'apple' is in all (low idf), 'kiwi' only in one (high idf)."""
    import math

    from chronographer_spark.operators.text import tfidf_top_terms

    rows = [
        (1, "apple apple kiwi"),
        (2, "apple banana"),
        (3, "apple banana banana"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["doc_id"], r["rank"]): (r["term"], r["score_x1e6"])
        for r in tfidf_top_terms(df, top_n=2).collect()
    }
    idf = lambda dfreq: math.log(4.0 / (dfreq + 1)) + 1.0  # noqa: E731
    # doc 1: kiwi tf=1 idf(1) vs apple tf=2 idf(3)
    assert out[(1, 1)] == ("apple", math.floor(2 * idf(3) * 1e6 + 0.5))
    assert out[(1, 2)] == ("kiwi", math.floor(1 * idf(1) * 1e6 + 0.5))
    # doc 3: banana tf=2 beats apple tf=1
    assert out[(3, 1)][0] == "banana" and out[(3, 2)][0] == "apple"


def test_quantized_topk_recall_vs_exact(spark):
    """int8-quantized cosine top-10 must substantially agree with the exact
    double-precision top-10 (>=7/10 overlap on the synthetic embeddings),
    and quantization must be scale-invariant per vector."""
    from pyspark.sql import functions as F

    from chronographer_spark.operators.similarity import (
        brute_force_topk,
        quantize_vectors,
        quantized_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") != 0)
    exact = {r["vec_id"] for r in brute_force_topk(corpus, q, k=10).collect()}
    quant = {r["vec_id"] for r in quantized_topk(corpus, q, k=10).collect()}
    assert len(exact & quant) >= 7, (exact, quant)

    # scaling a vector by a constant must not change its int8 codes
    one = emb.filter(F.col("vec_id") == 1)
    base = quantize_vectors(one).select("qvec").collect()[0]["qvec"]
    scaled = quantize_vectors(
        one.withColumn("embedding", F.transform("embedding", lambda x: x * 3.0))
    ).select("qvec").collect()[0]["qvec"]
    assert base == scaled


def test_quantize_zero_vector(spark):
    from chronographer_spark.operators.similarity import quantize_vectors

    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    r = quantize_vectors(df).collect()[0]
    assert r["qvec"] == [0, 0, 0] and r["scale"] == 0.0


def test_phrase_search_semantics(spark):
    """3-term phrases, repeated-token overlaps, absent terms, punctuation
    tokenization, and the empty-phrase guard."""
    import pytest as _pytest

    from chronographer_spark.operators.retrieval import (
        build_inverted_index,
        phrase_search,
    )

    rows = [
        (1, "the quick brown fox and the quick brown hare"),
        (2, "quick, brown... fox!"),     # punctuation-separated still adjacent
        (3, "quick brown quick brown fox"),
        (4, "brown quick fox"),          # right words, wrong order
        (5, "a a a"),                    # overlapping repeated-token matches
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = build_inverted_index(docs)

    got = {r["doc_id"]: r["n_matches"] for r in
           phrase_search(idx, "quick brown fox").collect()}
    assert got == {1: 1, 2: 1, 3: 1}

    got2 = {r["doc_id"]: r["n_matches"] for r in
            phrase_search(idx, "quick brown").collect()}
    assert got2 == {1: 2, 2: 1, 3: 2}

    # token-position overlap is counted (regex scans would miss one)
    gota = {r["doc_id"]: r["n_matches"] for r in
            phrase_search(idx, "a a").collect()}
    assert gota == {5: 2}

    assert phrase_search(idx, "quick zebra").count() == 0
    with _pytest.raises(ValueError):
        phrase_search(idx, "  ... ")


def test_bm25_hand_computed(spark):
    """Tiny corpus, hand-derivable properties: a doc matching the rarer
    term outranks a doc matching the common one; longer docs are penalized
    at equal tf; scores reproduce the closed-form formula."""
    import math

    from chronographer_spark.operators.retrieval import (
        build_inverted_index,
        bm25_search,
    )

    rows = [
        (1, "spark rare"),
        (2, "spark common common"),
        (3, "common spark spark spark spark spark spark spark spark spark"),
        (4, "nothing relevant here at all whatsoever truly"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["rank"]: (r["doc_id"], r["score_x1e6"]) for r in
           bm25_search(build_inverted_index(docs), docs, "rare common", k=4).collect()}
    assert len(out) == 3  # doc 4 matches nothing
    assert out[1][0] == 1  # the rare-term doc wins

    # closed-form check for doc 1: only 'rare' matches, tf=1, dl=2
    n, k1, b = 4, 1.2, 0.75
    dls = [2, 3, 10, 7]
    avglen = math.floor(sum(dls) / 4 * 1e6 + 0.5) / 1e6
    idf_rare = math.log((n - 1 + 0.5) / (1 + 0.5) + 1.0)
    s1 = idf_rare * (1 * (k1 + 1)) / (1 + k1 * (1 - b + b * 2 / avglen))
    assert out[1][1] == math.floor(s1 * 1e6 + 0.5)

    # docs 2 and 3 both match 'common' (df=2) with tf=1; doc 3 is longer
    # so it scores lower
    assert out[2][0] == 2 and out[3][0] == 3

    import pytest as _pytest
    with _pytest.raises(ValueError):
        bm25_search(build_inverted_index(docs), docs, "123")


def test_ivf_with_kmeans_trained_centroids(spark):
    """The trained-centroid path: Lloyd k-means cells plugged into IVF
    routing. Self-queries still find themselves at rank 1 through the
    probed cells, and the trained cells cover the whole corpus."""
    from chronographer_spark.operators.clustering import kmeans
    from chronographer_spark.operators.similarity import ivf_assign, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    _, cents = kmeans(emb, k=4, iterations=2)
    assert len(cents) == 4

    assigned = ivf_assign(emb, sorted(cents))
    assert assigned.count() == emb.count()

    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = ivf_topk(emb, qs, k=5, n_centroids=4, n_probe=2, centroids=cents).collect()
    by_q = {}
    for r in top:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
    for qid, rows in by_q.items():
        assert min(rows)[1] == qid  # rank-1 is the query itself


def test_top_n_per_group_salted_equals_plain(spark):
    """The salted two-phase top-n returns EXACTLY the plain-window rows for
    any salt_buckets (the salt may only change the plan, never the result),
    and the salted plan carries the extra pruning Window."""
    from chronographer_spark.operators.sampling import top_n_per_group

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    order = [F.col("ts").desc(), F.col("event_id").asc()]
    plain = top_n_per_group(ev, ["event_type"], order, 7)
    rows_plain = sorted(map(tuple, plain.select("event_id", "rk").collect()))
    for buckets in (2, 32):
        salted = top_n_per_group(
            ev, ["event_type"], order, 7, salt_key="event_id", salt_buckets=buckets
        )
        assert sorted(map(tuple, salted.select("event_id", "rk").collect())) == rows_plain
    n_windows = str(
        top_n_per_group(
            ev, ["event_type"], order, 7, salt_key="event_id"
        )._jdf.queryExecution().executedPlan()
    ).count("Window")
    assert n_windows >= 2


def test_cluster_quota_sample_fills_quota_per_cluster(spark):
    """Every cluster yields exactly min(quota, cluster size) rows, ranks are
    1..quota, and the kept rows are the cluster's quality maxima."""
    from chronographer_spark.operators.clustering import kmeans
    from chronographer_spark.operators.sampling import cluster_quota_sample

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(F.col("doc_id").alias("vec_id"), F.col("n_chars").alias("quality"))
    )
    assigned, _ = kmeans(emb, k=4, iterations=2)
    out = cluster_quota_sample(assigned, docs, quota=10).collect()
    sizes = {r["cluster"]: r["n"] for r in assigned.groupBy("cluster").agg(F.count("*").alias("n")).collect()}
    per = {}
    for r in out:
        per.setdefault(r["cluster"], []).append(r)
    assert set(per) == set(sizes)
    full = {r["vec_id"]: r for r in assigned.join(docs, "vec_id").collect()}
    for cid, rows in per.items():
        assert len(rows) == min(10, sizes[cid])
        assert sorted(r["rk"] for r in rows) == list(range(1, len(rows) + 1))
        kept_q = min(r["quality"] for r in rows)
        dropped = [
            r for v, r in full.items()
            if r["cluster"] == cid and v not in {x["vec_id"] for x in rows}
        ]
        assert all(r["quality"] <= kept_q for r in dropped)


def test_hash_rate_sample_deterministic_nested_maponly(spark):
    """Threshold sampling invariants: (a) membership survives arbitrary
    repartitioning; (b) a lower rate's sample is a SUBSET of a higher
    rate's (nested samples — raising the mix rate only adds rows, never
    swaps them); (c) keep fraction tracks the rate; (d) the plan is
    map-only (no Exchange)."""
    from chronographer_spark.operators.sampling import hash_rate_sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    half = hash_rate_sample(docs, 500000, "doc_id")
    ids = {r["doc_id"] for r in half.select("doc_id").collect()}
    reparted = {
        r["doc_id"]
        for r in hash_rate_sample(docs.repartition(7), 500000, "doc_id")
        .select("doc_id").collect()
    }
    assert ids == reparted
    tenth = {
        r["doc_id"]
        for r in hash_rate_sample(docs, 100000, "doc_id").select("doc_id").collect()
    }
    assert tenth <= ids
    assert 0.4 <= len(ids) / 500 <= 0.6 and 0.05 <= len(tenth) / 500 <= 0.15
    plan = str(half._jdf.queryExecution().executedPlan())
    assert "Exchange" not in plan


def test_domain_mix_sample_rates_per_domain(spark):
    """Per-domain rates apply independently: rate-1e6 domains keep every
    row, rate-0 default drops unlisted domains entirely, and listed
    fractional domains keep a strict, hash-chosen subset."""
    from chronographer_spark.operators.sampling import domain_mix_sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = domain_mix_sample(
        docs, "source", {"src0": 1000000, "src1": 400000}, key="doc_id"
    )
    by_src = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert by_src.get("src0") == 25
    assert 0 < by_src.get("src1", 0) < 25
    assert set(by_src) == {"src0", "src1"}


def test_repeated_ngram_spans_hand_computed(spark):
    """Known corpus: overlapping duplicated 4-grams merge into ONE maximal
    span; far-apart hits in the same doc split into separate spans; docs
    with no shared 4-gram emit nothing."""
    from chronographer_spark.operators.dedup import repeated_ngram_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "x x a b c d e y"),
            (3, "q w e r t z u i"),
            (4, "a b c d z1 z2 z3 z4 z5 z6 b c d e"),
        ],
        ["doc_id", "text"],
    )
    out = {
        (r["doc_id"], r["span_start"]): (r["span_end"], r["n_grams_in_span"])
        for r in repeated_ngram_spans(docs, n=4, min_docs=2).collect()
    }
    assert out == {
        (1, 1): (5, 2),   # "a b c d" + "b c d e" overlap -> one span [1,5]
        (2, 3): (7, 2),
        (4, 1): (4, 1),   # far-apart hits split
        (4, 11): (14, 1),
    }


def test_pq_encode_maponly_and_adc_self_nearest(spark):
    """PQ contract on real embeddings: encode emits m=8 code ids with NO
    exchange in the plan (the 100 TB pass is map-only), every code id is a
    valid cid of its sub-space codebook, and each query's ADC rank-1 is
    itself on this corpus."""
    from chronographer_spark.operators.pq import (
        pq_encode,
        pq_topk,
        train_pq_codebooks,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cbs = train_pq_codebooks(emb, m=8, k=16, iterations=2)
    valid = {}
    for s, cid, _ in cbs:
        valid.setdefault(s, set()).add(cid)

    enc = pq_encode(emb, cbs)
    plan = str(enc._jdf.queryExecution().executedPlan())
    assert "Exchange" not in plan
    for r in enc.select("codes").take(50):
        assert len(r["codes"]) == 8
        for s, code in enumerate(r["codes"]):
            assert code in valid[s]

    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top1 = {
        r["query_id"]: r["vec_id"]
        for r in pq_topk(emb, qs, cbs, k=5).filter(F.col("rank") == 1).collect()
    }
    assert top1 == {0: 0, 1: 1, 2: 2}


def test_pq_empty_clusters_cid_gaps(spark):
    """A corpus with only 3 distinct vectors under k=16 leaves most
    clusters empty -> gappy cid sets; the cid-match centroid lookup must
    still score correctly: exact-duplicate vectors get ADC distance 0 and
    the query's duplicates fill the top ranks."""
    from chronographer_spark.operators.pq import pq_topk, train_pq_codebooks

    base = [
        [float(i % 7) for i in range(64)],
        [float((i * 3) % 5) for i in range(64)],
        [float((i * 5) % 11) for i in range(64)],
    ]
    rows = [(i, base[i % 3]) for i in range(30)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cbs = train_pq_codebooks(emb, m=8, k=16, iterations=2)
    subs_cids = {}
    for s, cid, _ in cbs:
        subs_cids.setdefault(s, []).append(cid)
    assert all(len(cids) <= 3 for cids in subs_cids.values())

    qs = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = pq_topk(emb, qs, cbs, k=10).collect()
    dup_ids = {i for i in range(30) if i % 3 == 0}
    zero_dist = {r["vec_id"] for r in top if r["dist_x1e6"] == 0}
    assert zero_dist == dup_ids


def test_triangle_count_hand_graphs(spark):
    """K4 has 4 triangles; removing an edge leaves 2; self-loops, parallel
    and reversed edges are noise; a star (pure hub) has none; and the
    customer-nation-region gate graph closes exactly one triangle per
    customer."""
    from chronographer_spark.operators.graph_algos import triangle_count

    def tc(rows):
        df = spark.createDataFrame(rows, ["src", "dst"])
        return triangle_count(df).first()["n_triangles"]

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    assert tc(k4) == 4
    assert tc([e for e in k4 if e != (2, 3)]) == 2
    assert tc([(0, 1), (1, 0), (1, 2), (2, 0), (0, 0), (2, 2), (0, 1)]) == 1
    assert tc([(0, i) for i in range(1, 10)]) == 0

    from chronographer_spark.entry_queries import q_triangle_count

    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    n = q_triangle_count(spark, "/root/testdata/sf0.001").first()["n_triangles"]
    assert n == cust.count()


def test_rrf_fuse_hand_computed(spark):
    """RRF on two hand rankings: items in both lists outrank single-list
    items; contributions are floor(1e6/(60+rank)) summed; singletons on
    equal ranks tie-break by id."""
    from chronographer_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame([(10, 1), (20, 2), (30, 3)], ["doc_id", "rank"])
    b = spark.createDataFrame([(20, 1), (40, 2), (10, 3)], ["doc_id", "rank"])
    out = {r["doc_id"]: (r["rrf_x1e6"], r["rank"]) for r in rrf_fuse([a, b], k=4).collect()}
    c = lambda rk: 1000000 // (60 + rk)
    assert out[10] == (c(1) + c(3), 2)
    assert out[20] == (c(2) + c(1), 1)
    assert out[30] == (c(3), 4)
    assert out[40] == (c(2), 3)


def test_pack_sequences_covers_stream_and_matches_global_window(spark):
    """Packing invariants on a skewed corpus: the chunk spans tile the
    concatenated token stream exactly (cum_before of the k-th doc in md5
    order equals the sum of all earlier docs' tokens — i.e. the two-phase
    prefix sum equals the naive global one), offsets stay inside the
    budget, and a doc's span is exactly the chunks its positions touch."""
    from chronographer_spark.operators.packing import pack_sequences

    budget = 100
    rows = [(i, (i * 37) % 260 + 1) for i in range(200)]  # some docs > budget
    df = spark.createDataFrame(rows, ["doc_id", "n_tok"])
    out = pack_sequences(df, "doc_id", "n_tok", budget=budget, n_parts=7).collect()

    import hashlib

    order = sorted(rows, key=lambda r: hashlib.md5(str(r[0]).encode()).hexdigest())
    cum, expect = 0, {}
    for doc_id, n in order:
        expect[doc_id] = cum
        cum += n
    by_id = {r["id"]: r for r in out}
    assert len(by_id) == 200
    for doc_id, n in rows:
        r = by_id[doc_id]
        assert r["cum_before"] == expect[doc_id], doc_id
        assert r["n_tokens"] == n
        assert r["first_chunk"] == expect[doc_id] // budget
        assert r["last_chunk"] == (expect[doc_id] + n - 1) // budget
        assert 0 <= r["chunk_offset"] < budget
    # stream is fully tiled: the final chunk is the one holding the last token
    assert max(r["last_chunk"] for r in out) == (cum - 1) // budget


def test_scrub_pii_hand_strings(spark):
    """Redaction on hand-built strings: each category is replaced by its
    placeholder, counts are per-category on the original text, emails are
    scrubbed before the phone pass can eat their digit runs, and PII-free
    text passes through byte-identical."""
    from chronographer_spark.operators.text import scrub_pii

    rows = [
        (1, "write to alice.b-c+x@sub.example.org today"),
        (2, "server at 192.168.0.1 rebooted"),
        (3, "call +1 (555) 123-4567 now"),
        (4, "plain text with no pii at all"),
        (5, "user123456789@host.io and 10.0.0.7 and +44 20 7946 0958"),
    ]
    out = {
        r["doc_id"]: r
        for r in scrub_pii(
            spark.createDataFrame(rows, ["doc_id", "text"]), "text"
        ).collect()
    }
    assert out[1]["scrubbed"] == "write to <EMAIL> today"
    assert (out[1]["n_email"], out[1]["n_ip"], out[1]["n_phone"]) == (1, 0, 0)
    assert out[2]["scrubbed"] == "server at <IP> rebooted"
    assert out[3]["scrubbed"] == "call <PHONE> now"
    assert out[4]["scrubbed"] == rows[3][1]
    # email replaced first: its 9-digit local part never becomes a <PHONE>
    assert out[5]["scrubbed"] == "<EMAIL> and <IP> and <PHONE>"
    assert out[5]["n_email"] == 1 and out[5]["n_ip"] == 1


def test_repetition_metrics_hand_computed(spark):
    """Gopher repetition metrics on hand docs: 'a b a b a b c' has top
    bigram 'a b' (3 hits, 9 of 13 chars) and 20 duplicated-trigram chars
    (overlap-uncorrected, so the fraction may exceed 1e6 by design); a
    one-word doc scores 0/0; a two-word doc's only bigram covers it fully."""
    from chronographer_spark.operators.text import repetition_metrics

    rows = [(1, "a b a b a b c"), (2, "x"), (3, "p q")]
    out = {
        r["doc_id"]: (r["top_bigram_frac_x1e6"], r["dup_trigram_frac_x1e6"])
        for r in repetition_metrics(
            spark.createDataFrame(rows, ["doc_id", "text"])
        ).collect()
    }
    assert out[1] == (692308, 1538462)  # floor(1e6*9/13+.5), floor(1e6*20/13+.5)
    assert out[2] == (0, 0)
    assert out[3] == (1000000, 0)


def test_label_propagation_hand_graphs(spark):
    """Deterministic LPA: on a star the leaves adopt the hub's id in round
    1 while the all-tie hub vote resolves to the smallest leaf; round 2
    settles leaves on that smallest leaf and the hub back on itself. A
    two-neighbor tie picks the smaller label after one round."""
    from chronographer_spark.operators.graph_algos import label_propagation

    star = spark.createDataFrame(
        [(10, 1), (10, 2), (10, 3)], ["src", "dst"]
    )
    r1 = {r["node"]: r["label"] for r in label_propagation(star, 1).collect()}
    assert r1 == {1: 10, 2: 10, 3: 10, 10: 1}
    r2 = {r["node"]: r["label"] for r in label_propagation(star, 2).collect()}
    assert r2 == {1: 1, 2: 1, 3: 1, 10: 10}

    tie = spark.createDataFrame([(5, 3), (5, 4)], ["src", "dst"])
    t1 = {r["node"]: r["label"] for r in label_propagation(tie, 1).collect()}
    assert t1 == {5: 3, 3: 5, 4: 5}


def test_chunk_documents_windows_and_maponly(spark):
    """Stride windows: 5 tokens with chunk=3/stride=2 give starts 0,2,4
    with a short tail; empty docs emit nothing; and the whole pass is
    map-only (no exchange in the physical plan)."""
    from chronographer_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [(1, "A b c D e"), (2, "")], ["doc_id", "text"]
    )
    out = chunk_documents(df, chunk_tokens=3, stride=2)
    rows = {
        (r["id"], r["chunk_idx"]): (r["start_tok"], r["n_tok"], r["chunk_text"])
        for r in out.collect()
    }
    assert rows == {
        (1, 0): (0, 3, "a b c"),
        (1, 1): (2, 3, "c d e"),
        (1, 2): (4, 1, "e"),
    }
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_prefix_jaccard_join_equals_brute_force(spark):
    """Prefix filtering must be LOSSLESS: the AllPairs join over the real
    sf0.001 corpus returns exactly the pairs (and exact inter/union counts)
    of an independent pure-Python all-pairs computation."""
    import itertools
    import re

    from chronographer_spark.operators.dedup import prefix_jaccard_join

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        (r.id_a, r.id_b): (r.inter, r["union"])
        for r in prefix_jaccard_join(docs, threshold=0.5, shingle_n=1).collect()
    }

    sets = {
        r.doc_id: set(re.sub(r"\s+", " ", r.text.lower().strip()).split(" "))
        for r in docs.select("doc_id", "text").collect()
    }
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if inter * 1_000_000 >= 500_000 * union:
            want[(a, b)] = (inter, union)
    assert want, "fixture must contain qualifying near-dup pairs"
    assert got == want


def test_prefix_jaccard_integer_ceil_regression(spark):
    """sz=5 at t=0.8: IEEE 0.8*5 = 4.0000000000000002, so a float ceil
    shortens the prefix to 1 token and silently drops this J=0.8 pair;
    the integer ceil-div keeps prefix length 2 and finds it."""
    from chronographer_spark.operators.dedup import prefix_jaccard_join

    df = spark.createDataFrame(
        [(1, "w b c d e"), (2, "b c d e")], ["doc_id", "text"]
    )
    rows = prefix_jaccard_join(df, threshold=0.8, shingle_n=1).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.id_a, r.id_b, r.inter, r["union"]) == (1, 2, 4, 5)
    assert r.jaccard == 0.8


def test_k_core_peels_pendants_transitively(spark):
    """Chain d-e hanging off triangle a-b-c: at k=2 the whole chain peels
    (e first, then d), the triangle survives with degree 2 each; at k=3
    everything peels. exact_rounds past the fixpoint matches the default."""
    from chronographer_spark.operators.graph_algos import k_core

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"), ("d", "e")],
        ["src", "dst"],
    )
    core2 = {(r.node, r.degree) for r in k_core(edges, k=2).collect()}
    assert core2 == {("a", 2), ("b", 2), ("c", 2)}
    assert k_core(edges, k=3).count() == 0
    exact = {(r.node, r.degree) for r in k_core(edges, k=2, max_rounds=4, exact_rounds=True).collect()}
    assert exact == core2


def test_ann_recall_report_hand_case(spark):
    """q0: approx recovers 2 of 3 exact ids, top-1 found at approx rank 2;
    q1: approx misses the exact top-1 entirely -> top1_rank 0."""
    from chronographer_spark.operators.similarity import ann_recall_report

    exact = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3),
         (1, 20, 1), (1, 21, 2), (1, 22, 3)],
        ["query_id", "vec_id", "rank"],
    )
    approx = spark.createDataFrame(
        [(0, 11, 1), (0, 10, 2), (0, 99, 3),
         (1, 21, 1), (1, 22, 2), (1, 98, 3)],
        ["query_id", "vec_id", "rank"],
    )
    out = {r.query_id: r for r in ann_recall_report(exact, approx, k=3).collect()}
    assert (out[0].n_hits, out[0].top1_rank, out[0].recall_x1e6) == (2, 2, 666666)
    assert (out[1].n_hits, out[1].top1_rank, out[1].recall_x1e6) == (2, 0, 666666)


def test_neighborhood_overlap_hand_graph(spark):
    """Square a-b-c-d (cycle): opposite corners share both neighbors
    (jac = 2/2 = 1.0 — union subtracts the common count, neighborhoods
    {b,d} vs {b,d}); adjacent corners share none."""
    from chronographer_spark.operators.graph_algos import neighborhood_overlap

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")], ["src", "dst"]
    )
    out = {
        (r.node_a, r.node_b): (r.n_common, r.deg_a, r.deg_b, r.jac_x1e6)
        for r in neighborhood_overlap(edges).collect()
    }
    assert out == {
        ("a", "c"): (2, 2, 2, 1000000),
        ("b", "d"): (2, 2, 2, 1000000),
    }


def test_resource_allocation_hand_graph(spark):
    """Kite: a and b share neighbors {c, d}; deg(c)=3 (a,b,d), deg(d)=3
    (a,b,c), so RA(a,b) = 1/3 + 1/3 -> 333333 + 333333. The hub-discount
    property: c-d share {a, b} with deg(a)=deg(b)=2 -> RA = 500000*2."""
    from chronographer_spark.operators.graph_algos import resource_allocation

    edges = spark.createDataFrame(
        [("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")],
        ["src", "dst"],
    )
    out = {
        (r.node_a, r.node_b): (r.n_common, r.ra_x1e6)
        for r in resource_allocation(edges).collect()
    }
    assert out == {
        ("a", "b"): (2, 666666),
        ("c", "d"): (2, 1000000),
        # single-common pairs through c or d (deg 3): 333333 each
        ("a", "c"): (1, 333333),
        ("a", "d"): (1, 333333),
        ("b", "c"): (1, 333333),
        ("b", "d"): (1, 333333),
    }


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_ed1_pairs_matches_brute_force(spark):
    """Deletion-variant blocking is lossless: output == all-pairs ED<=1,
    covering deletion, insertion, substitution, and far-apart negatives."""
    from chronographer_spark.linking.fuzzy import ed1_pairs

    vocab = [
        "pittsburgh", "pitsburgh",   # deletion
        "spark", "sparks",           # insertion (at the end)
        "table", "cable",            # substitution (first char)
        "cold", "old", "bold",       # chained ED-1 neighbors
        "red", "rod", "row",         # red~rod (sub), rod~row (sub), red!~row
        "a", "ab",                   # short strings
        "query", "engine",           # unrelated
        "aa",                        # dup variants ("a" twice) must not dup pairs
    ]
    expected = sorted(
        (t1, t2)
        for i, t1 in enumerate(sorted(set(vocab)))
        for t2 in sorted(set(vocab))[i + 1:]
        if _lev(t1, t2) <= 1
    )
    df = spark.createDataFrame([(t,) for t in vocab], ["tok"])
    got = [(r.tok1, r.tok2) for r in ed1_pairs(df).orderBy("tok1", "tok2").collect()]
    assert got == expected
    assert ("a", "aa") in got and ("cold", "old") in got


def test_conversation_metrics_hand_values(spark):
    """Single-turn conv (null gaps -> 0s), a stalled conv (one long gap),
    and a tool-using conv with a role switch count."""
    from chronographer_spark.operators.dialogue import conversation_metrics

    rows = [
        # conv A: 3 turns, 60s gaps, roles u/a/u -> 2 switches, 1 tool turn
        ("A", 0, "user", "hi", "", "2024-01-01 00:00:00"),
        ("A", 1, "assistant", "yo", "search", "2024-01-01 00:01:00"),
        ("A", 2, "user", "ok", "", "2024-01-01 00:02:00"),
        # conv B: single turn
        ("B", 0, "user", "solo", "", "2024-01-01 05:00:00"),
        # conv C: 2 turns, 10-minute stall, same role -> 0 switches
        ("C", 0, "user", "x", "", "2024-01-02 00:00:00"),
        ("C", 1, "user", "y", "", "2024-01-02 00:10:00"),
    ]
    tx = spark.createDataFrame(
        rows, ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        r.conv_id: (
            r.n_turns, r.n_tool_turns, r.n_role_switches,
            r.duration_us, r.sum_gap_us, r.max_gap_us, r.n_long_gaps,
        )
        for r in conversation_metrics(tx, long_gap_s=300).collect()
    }
    m = 60_000_000
    assert out["A"] == (3, 1, 2, 2 * m, 2 * m, m, 0)
    assert out["B"] == (1, 0, 0, 0, 0, 0, 0)
    assert out["C"] == (2, 0, 0, 10 * m, 10 * m, 10 * m, 1)


def test_conversation_metrics_single_shuffle(spark):
    """The lag window and the groupBy share hashpartitioning(conv_id):
    the whole operator costs exactly one exchange."""
    from chronographer_spark.operators.dialogue import conversation_metrics

    tx = spark.createDataFrame(
        [("A", 0, "user", "hi", "", "2024-01-01 00:00:00")],
        ["conv_id", "turn_idx", "role", "text", "tool", "ts"],
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    plan = conversation_metrics(tx)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_random_walks_hand_model(spark):
    """Walks match a python reference walker (same md5 index-pick rule
    over sorted distinct neighbors); a dead-end walk stops early instead
    of emitting nulls; a sub-degree bucket size still picks index k."""
    import hashlib
    from collections import defaultdict

    from chronographer_spark.operators.graph_algos import random_walks

    edges = [("a", "b"), ("a", "c"), ("b", "a"), ("b", "c"), ("c", "a"),
             ("d", "e")]  # e has no out-edges: dead end after step 1
    adj = defaultdict(list)
    for s, d in edges:
        adj[s].append(d)
    expected = []
    for start in sorted({s for s, _ in edges}):
        cur = start
        expected.append((start, 0, start))
        for i in (1, 2, 3):
            nbrs = sorted(set(adj[cur]))
            if not nbrs:
                break
            h = int(
                hashlib.md5(f"walk|{start}|{i}|{cur}".encode()).hexdigest()[:8], 16
            )
            cur = nbrs[h % len(nbrs)]
            expected.append((start, i, cur))
    df = spark.createDataFrame(edges, ["src", "dst"])
    for bucket in (1024, 1):  # bucket=1 forces the multi-bucket path
        got = sorted(
            (r.walk_id, r.step, r.node)
            for r in random_walks(df, n_steps=3, bucket=bucket).collect()
        )
        assert got == sorted(expected), f"bucket={bucket}"
    assert ("d", 1, "e") in got and not any(w == "d" and s > 1 for w, s, _ in got)


def test_tool_transitions_hand_values(spark):
    """Per-conversation lag over tool turns only: non-tool turns in between
    are skipped, conversations never chain into each other."""
    from chronographer_spark.operators.dialogue import tool_transitions

    rows = [
        ("A", 0, "user", "q", "", "2024-01-01 00:00:00"),
        ("A", 1, "tool", "r", "search", "2024-01-01 00:01:00"),
        ("A", 2, "user", "q", "", "2024-01-01 00:02:00"),
        ("A", 3, "tool", "r", "fetch", "2024-01-01 00:03:00"),
        ("A", 4, "tool", "r", "search", "2024-01-01 00:04:00"),
        ("B", 0, "tool", "r", "fetch", "2024-01-01 01:00:00"),
        ("B", 1, "tool", "r", "fetch", "2024-01-01 01:01:00"),
    ]
    tx = spark.createDataFrame(
        rows, ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        (r.tool_from, r.tool_to): r.n_transitions
        for r in tool_transitions(tx).collect()
    }
    assert got == {
        ("search", "fetch"): 1,   # A: turn 1 -> 3 (turn 2 has no tool)
        ("fetch", "search"): 1,   # A: turn 3 -> 4
        ("fetch", "fetch"): 1,    # B self-loop; B never chains from A
    }


def test_cooccurrence_lift_hand_values(spark):
    """Exact integer lift on a 4-doc corpus; top_k cap drops the rarest
    token deterministically."""
    from chronographer_spark.operators.text import cooccurrence_lift

    rows = [
        (0, "x y"),
        (1, "x y"),
        (2, "x z"),
        (3, "y rare"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        (r.tok_a, r.tok_b): (r.n_ab, r.n_a, r.n_b, r.lift_x1e6)
        for r in cooccurrence_lift(docs, top_k=3).collect()
    }
    # vocab cap 3 -> x(3), y(3), z(1) kept (ties by token asc: rare(1) vs
    # z(1) -> 'rare' < 'z'... rank: x,y first (n=3), then rare, z both n=1,
    # 'rare' wins the tie alphabetically
    assert ("y", "z") not in out and not any("z" in p for p in out)
    # (x, y): n_ab=2, n_a=3, n_b=3, lift = 2*4/(3*3) = 0.888... -> 888888
    assert out[("x", "y")] == (2, 3, 3, 888888)
    # (rare, y): n_ab=1, lift = 1*4/(1*3) -> 1333333
    assert out[("rare", "y")] == (1, 1, 3, 1333333)
    assert len(out) == 2  # (rare, x) never co-occur -> no row


def test_mutual_best_trigram_match(spark):
    """Exact match wins outright; a jaccard tie goes to the smallest
    partner, and the loser of the tie gets no row (mutuality filter)."""
    from chronographer_spark.linking.fuzzy import mutual_best_trigram_match

    left = spark.createDataFrame([("night",), ("nacht",), ("abc",)], ["tok"])
    right = spark.createDataFrame(
        [("night",), ("nighty",), ("day",), ("abcd",), ("abce",)], ["tok"]
    )
    out = {
        (r.tok_a, r.tok_b): (r.n_common, r.n_a, r.n_b, r.jac_x1e6)
        for r in mutual_best_trigram_match(left, right).collect()
    }
    assert out == {
        ("night", "night"): (3, 3, 3, 1000000),
        # abc ties abcd/abce at 0.5 -> smallest partner abcd; abce's best
        # (abc) is not mutual, so abce is unmatched; nacht shares no gram
        ("abc", "abcd"): (1, 1, 2, 500000),
    }


def test_walk_skipgrams_hand_values(spark):
    """Window-2 ordered pairs per walk, counted across walks."""
    from chronographer_spark.operators.graph_algos import walk_skipgrams

    walks = spark.createDataFrame(
        [("w1", 0, "a"), ("w1", 1, "b"), ("w1", 2, "a"),
         ("w2", 0, "a"), ("w2", 1, "b")],
        ["walk_id", "step", "node"],
    )
    got = {
        (r.center, r.context): r.n_pairs for r in walk_skipgrams(walks, 2).collect()
    }
    # w1: (a,b)x2 [0->1, 2->1], (b,a)x2, (a,a)x2 [0<->2]; w2 adds (a,b),(b,a)
    assert got == {("a", "b"): 3, ("b", "a"): 3, ("a", "a"): 2}


def test_negative_samples_matches_python_model(spark):
    """The word2vec unigram-table draw replayed row-for-row by a pure
    python model: 3/4-power integer weights, proportional slot table,
    md5 index pick, accidental-hit drop."""
    import hashlib
    import math

    from chronographer_spark.operators.graph_algos import negative_samples

    pairs = spark.createDataFrame(
        [("a", "b", 6), ("b", "a", 6), ("a", "c", 2), ("c", "a", 2), ("b", "c", 1)],
        ["center", "context", "n_pairs"],
    )
    k, target = 3, 64
    got = {
        (r.center, r.context, r.neg_idx): r.negative
        for r in negative_samples(pairs, k=k, target_slots=target).collect()
    }

    vocab = {}
    for c, x, n in [("a", "b", 6), ("b", "a", 6), ("a", "c", 2), ("c", "a", 2), ("b", "c", 1)]:
        vocab[x] = vocab.get(x, 0) + n
    w = {v: max(1, math.floor(math.sqrt(math.sqrt(float(n) * n * n)))) for v, n in vocab.items()}
    W = sum(w.values())
    slots = {v: max(1, (w[v] * target) // W) for v in w}
    table = []
    for v in sorted(slots):
        table.extend([v] * slots[v])
    expect = {}
    for c, x, _ in [("a", "b", 6), ("b", "a", 6), ("a", "c", 2), ("c", "a", 2), ("b", "c", 1)]:
        for j in range(1, k + 1):
            h = int(hashlib.md5(f"neg|{c}|{x}|{j}".encode()).hexdigest()[:8], 16)
            neg = table[h % len(table)]
            if neg != c and neg != x:
                expect[(c, x, j)] = neg
    assert got == expect
    assert len(got) > 0


def test_bm25_many_agrees_with_single_and_caps_df(spark):
    """Batched BM25 reproduces per-query bm25_search exactly; max_df drops
    the ubiquitous term from scoring."""
    from chronographer_spark.operators.retrieval import (
        bm25_search,
        bm25_search_many,
        build_inverted_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "fast join the fast lane"),
            (2, "join the table"),
            (3, "vector scan index the corpus"),
            (4, "the the the filler row"),
        ],
        ["doc_id", "text"],
    )
    idx = build_inverted_index(docs)
    queries = spark.createDataFrame(
        [("a", "fast join"), ("b", "vector index")], ["query_id", "qtext"]
    )
    many = {
        (r.query_id, r.doc_id): (r.rank, r.score_x1e6)
        for r in bm25_search_many(idx, docs, queries, k=3).collect()
    }
    for qid, qtext in [("a", "fast join"), ("b", "vector index")]:
        single = {
            r.doc_id: (r.rank, r.score_x1e6)
            for r in bm25_search(idx, docs, qtext, k=3).collect()
        }
        assert {d: v for (q, d), v in many.items() if q == qid} == single
    # 'the' appears in all 4 docs; max_df=3 removes it from query 'c'
    qc = spark.createDataFrame([("c", "the vector")], ["query_id", "qtext"])
    capped = bm25_search_many(idx, docs, qc, k=4, max_df=3).collect()
    assert {r.doc_id for r in capped} == {3}  # only the 'vector' posting


def test_shape_report_hand_rules(spark):
    """All four rule kinds on a 3-subject graph with one violation each;
    conforming subjects emit nothing; unknown kind raises."""
    from chronographer_spark.graph.validate import shape_report

    t = spark.createDataFrame(
        [
            ("e1", "rdf:type", "Event"), ("e2", "rdf:type", "Event"),
            ("e1", "next", "e2"),
            ("e1", "tool", "t1"), ("e2", "tool", "t1"), ("e2", "tool", "t2"),
            ("e1", "begin", "2024-01-05"), ("e2", "begin", "not-a-date"),
            ("e3", "tool", "t9"),  # untyped tool user
        ],
        ["subject", "predicate", "object"],
    )
    rules = [
        {"id": "m", "kind": "min_count", "pred": "next", "min": 1},
        {"id": "x", "kind": "max_count", "pred": "tool", "max": 1},
        {"id": "r", "kind": "range_regex", "pred": "begin",
         "regex": "^[0-9]{4}-[0-9]{2}-[0-9]{2}$"},
        {"id": "d", "kind": "domain_type", "pred": "tool", "type": "Event"},
    ]
    got = {(r.rule_id, r.focus, r.detail) for r in shape_report(t, rules).collect()}
    assert got == {
        ("m", "e2", "0"),
        ("x", "e2", "2"),
        ("r", "e2", "not-a-date"),
        ("d", "e3", "missing type Event"),
    }
    import pytest as _pytest

    with _pytest.raises(ValueError):
        shape_report(t, [{"kind": "nope"}])
    with _pytest.raises(ValueError):
        shape_report(t, [])


def test_context_windows_hand_values(spark):
    """k=2: turn 0 gets empty context, turn 1 one line, turn 3 exactly the
    two preceding turns oldest-first; other conversations never leak in."""
    from chronographer_spark.operators.dialogue import context_windows

    rows = [
        ("A", i, "user" if i % 2 == 0 else "agent", f"t{i}", "", "2024-01-01 00:00:00")
        for i in range(4)
    ] + [("B", 0, "user", "other", "", "2024-01-01 00:00:00")]
    tx = spark.createDataFrame(
        rows, ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    got = {
        (r.conv_id, r.turn_idx): r
        for r in context_windows(tx, k=2).collect()
    }
    assert got[("A", 0)].context_text == "" and got[("A", 0)].n_context_turns == 0
    assert got[("A", 1)].context_text == "user: t0"
    assert got[("A", 3)].context_text == "agent: t1\nuser: t2"
    assert got[("A", 3)].target_text == "t3" and got[("A", 3)].target_role == "agent"
    assert got[("B", 0)].context_text == ""
    import pytest as _pytest

    with _pytest.raises(ValueError):
        context_windows(tx, k=0)


def test_metapath_counts_equals_wedge_join(spark):
    """Degree-product identity == brute-force wedge self-join on a hub
    graph (one middle node with 3 in- and 2 out-edges of mixed preds)."""
    from chronographer_spark.operators.graph_algos import metapath_counts

    t = spark.createDataFrame(
        [("a", "p", "h"), ("b", "p", "h"), ("c", "q", "h"),
         ("h", "r", "x"), ("h", "s", "y"), ("x", "p", "y")],
        ["subject", "predicate", "object"],
    )
    got = {(r.p1, r.p2): r.n_paths for r in metapath_counts(t).collect()}
    brute = {}
    rows = t.collect()
    for e1 in rows:
        for e2 in rows:
            if e1.object == e2.subject:
                k = (e1.predicate, e2.predicate)
                brute[k] = brute.get(k, 0) + 1
    assert got == brute
    assert got[("p", "r")] == 2  # a->h->x, b->h->x


def test_degree_histogram_buckets(spark):
    """deg 1 -> bucket 0, deg 2-3 -> 1, deg 4-7 -> 2; in/out sides
    counted independently."""
    from chronographer_spark.operators.graph_algos import degree_histogram

    edges = spark.createDataFrame(
        [("h", f"n{i}") for i in range(4)] + [("a", "b"), ("c", "b"), ("c", "a")],
        ["src", "dst"],
    )
    got = {(r.side, r.bucket): r.n_nodes for r in degree_histogram(edges).collect()}
    # out: h=4 (bucket 2), a=1 (0), c=2 (1); in: n0..n3,b? b=2 (1), a=1, n_i=1 x4
    assert got[("out", 2)] == 1 and got[("out", 0)] == 1 and got[("out", 1)] == 1
    assert got[("in", 1)] == 1 and got[("in", 0)] == 5


def test_retrieval_eval_hand_values(spark):
    """Two queries: one with hits at ranks 2 and 4 of 3 relevant docs
    (rr=500000, p@5=400000, recall=666666), one with no relevant docs at
    all (all three metrics 0, n_rel 0)."""
    from chronographer_spark.operators.retrieval import retrieval_eval

    ranked = spark.createDataFrame(
        [("q1", f"d{r}", r) for r in range(1, 6)]
        + [("q2", f"x{r}", r) for r in range(1, 4)],
        ["query_id", "doc_id", "rank"],
    )
    relevant = spark.createDataFrame(
        [("q1", "d2"), ("q1", "d4"), ("q1", "d9")], ["query_id", "doc_id"]
    )
    got = {r.query_id: r.asDict() for r in retrieval_eval(ranked, relevant, k=5).collect()}
    assert got["q1"] == {
        "query_id": "q1", "n_rel": 3, "n_hits": 2, "rr_x1e6": 500000,
        "p_at_k_x1e6": 400000, "recall_at_k_x1e6": 666666,
    }
    assert got["q2"] == {
        "query_id": "q2", "n_rel": 0, "n_hits": 0, "rr_x1e6": 0,
        "p_at_k_x1e6": 0, "recall_at_k_x1e6": 0,
    }


def test_topic_boundaries_hand_values(spark):
    """Partial overlap below threshold -> boundary; zero overlap ->
    boundary with ov 0; identical turns -> continuation."""
    from chronographer_spark.operators.dialogue import topic_boundaries

    rows = [
        ("X", 0, "u", "a b c", "", "2024-01-01 00:00:00"),
        ("X", 1, "u", "a b d", "", "2024-01-01 00:01:00"),   # ov 2/4 = 0.5
        ("X", 2, "u", "x y", "", "2024-01-01 00:02:00"),     # ov 0
        ("X", 3, "u", "x y", "", "2024-01-01 00:03:00"),     # ov 1.0
    ]
    tx = spark.createDataFrame(
        rows, ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    got = {
        r.turn_idx: (r.n_common, r.n_prev, r.n_cur, r.ov_x1e6, r.is_boundary)
        for r in topic_boundaries(tx, threshold_x1e6=600_000).collect()
    }
    assert got == {
        1: (2, 3, 3, 500000, 1),
        2: (0, 3, 2, 0, 1),
        3: (2, 2, 2, 1000000, 0),
    }


def test_comention_graph_hand_values(spark):
    """Shared-mention projection with distinct counting; the df cap drops
    the hub mention entirely (it alone would connect everyone)."""
    from chronographer_spark.operators.dialogue import comention_graph

    rows = [
        ("c1", "alice"), ("c1", "hub"), ("c1", "alice"),  # dup collapses
        ("c2", "alice"), ("c2", "hub"), ("c2", "bob"),
        ("c3", "hub"), ("c3", "bob"),
        ("c4", "hub"),
    ]
    m = spark.createDataFrame(rows, ["conv_id", "mention"])
    got = {
        (r.conv_a, r.conv_b): r.n_shared
        for r in comention_graph(m, max_df=3).collect()
    }
    # hub df=4 > 3 -> dropped; alice links c1-c2, bob links c2-c3; c4 isolated
    assert got == {("c1", "c2"): 1, ("c2", "c3"): 1}
    uncapped = {
        (r.conv_a, r.conv_b): r.n_shared
        for r in comention_graph(m, max_df=10).collect()
    }
    assert uncapped[("c1", "c2")] == 2 and uncapped[("c1", "c4")] == 1


def test_ed1_pairs_unicode(spark):
    """Deletion variants operate on code points, not bytes: accented forms
    at ED 1 are found, and multi-byte characters never split."""
    from chronographer_spark.linking.fuzzy import ed1_pairs

    vocab = ["café", "cafe", "naïve", "naive", "日本", "日本語"]
    df = spark.createDataFrame([(t,) for t in vocab], ["tok"])
    got = {(r.tok1, r.tok2) for r in ed1_pairs(df).collect()}
    assert ("cafe", "café") in got
    assert ("naive", "naïve") in got
    assert ("日本", "日本語") in got
    assert len(got) == 3


def test_bigram_typicality_hand_values(spark):
    """Mean corpus bigram frequency as exact integers; a single-token doc
    has no bigrams and scores 0 instead of vanishing."""
    from chronographer_spark.operators.text import bigram_typicality

    rows = [
        (0, "a b c"),      # bigrams: "a b", "b c"
        (1, "a b"),        # bigram: "a b"  -> "a b" corpus count 2
        (2, "x"),          # no bigrams
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_bigrams, r.typ_x1e6)
        for r in bigram_typicality(docs).collect()
    }
    # doc0: ("a b"=2 + "b c"=1) * 1e6 // 2 = 1500000; doc1: 2*1e6//1
    assert got == {0: (2, 1500000), 1: (1, 2000000), 2: (0, 0)}


def test_community_stats_hand_graph(spark):
    """Two communities joined by one cut edge: the cut counts once for
    EACH side's community; a lone node reports zeros."""
    from chronographer_spark.operators.graph_algos import community_stats

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (9, 9)], ["src", "dst"]
    )
    labels = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 20), (4, 20), (9, 30), (7, 40)],
        ["node", "label"],
    )
    got = {
        r.label: (r.n_nodes, r.n_internal, r.n_cut)
        for r in community_stats(edges, labels).collect()
    }
    assert got == {
        10: (2, 1, 1),   # edge 1-2 internal; 2-3 cut
        20: (2, 1, 1),   # edge 3-4 internal; 2-3 cut
        30: (1, 1, 0),   # self-loop 9-9 is internal
        40: (1, 0, 0),   # labeled node with no edges
    }


def test_boilerplate_removal_hand_fixture(spark):
    """Banner lines shared by >= threshold docs are dropped everywhere,
    unique content survives in original order, and a doc that is ALL
    boilerplate cleans to the empty string (not a dropped row)."""
    from chronographer_spark.operators.text import boilerplate_removal

    banner = "accept cookies"
    docs = [
        (1, f"{banner} alpha beta gamma delta"),
        (2, f"{banner} epsilon zeta eta theta"),
        (3, f"{banner} iota kappa {banner}"),
        (4, banner),  # all boilerplate
        (5, "lonely words only here"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    # threshold = max(2, ceil(0.5 * 5)) = 3; banner df = 4 -> dropped
    out = {
        r["id"]: (r["n_lines"], r["n_dropped"], r["clean_text"])
        for r in boilerplate_removal(
            df, line_tokens=2, max_doc_frac=0.5, min_docs=2
        ).collect()
    }
    assert out[1] == (3, 1, "alpha beta gamma delta")
    assert out[2] == (3, 1, "epsilon zeta eta theta")
    assert out[3] == (3, 2, "iota kappa")
    assert out[4] == (1, 1, "")
    # "lonely words"/"only here" appear in one doc each: kept
    assert out[5] == (2, 0, "lonely words only here")


def test_remove_repeated_spans_ownership(spark):
    """Gram-level ownership on a hand corpus: the min-doc_id owner keeps
    the duplicated run verbatim, later docs lose exactly the covered
    tokens, unique text is untouched, and a doc that is ONE big
    duplicated span cleans to ''."""
    from chronographer_spark.operators.dedup import remove_repeated_spans

    dup = "the quick brown fox"
    docs = [
        (1, f"{dup} alpha beta"),
        (2, f"gamma {dup} delta"),
        (3, dup),
        (4, "totally unique words here"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["id"]: (r["n_tokens"], r["n_dropped"], r["clean_text"])
        for r in remove_repeated_spans(df, n=3, min_docs=2).collect()
    }
    # doc 1 owns both 3-grams of `dup`: keeps everything
    assert got[1] == (6, 0, "the quick brown fox alpha beta")
    # docs 2/3: positions covered by non-owned grams drop (the 4 dup tokens)
    assert got[2] == (6, 4, "gamma delta")
    assert got[3] == (4, 4, "")
    assert got[4] == (4, 0, "totally unique words here")


def test_cdc_chunks_edit_locality(spark):
    """The CDC property: inserting one token early in a document changes
    only the chunk containing the edit — every other chunk text is
    reproduced verbatim (a fixed-offset windowing would shift them all).
    Also pins boundary semantics: chunk 0 starts at pos 0, boundaries
    open at trigger tokens."""
    import random

    from chronographer_spark.operators.dedup import cdc_chunks, cdc_dedup_stats

    rng = random.Random(3)
    words = [f"w{rng.randrange(200)}" for _ in range(400)]
    original = " ".join(words)
    edited = " ".join(words[:5] + ["INSERTED"] + words[5:])
    df = spark.createDataFrame(
        [(1, original), (2, edited)], "doc_id long, text string"
    )
    chunks = cdc_chunks(df, trigger_mod=8).collect()
    a = [r["chunk_text"] for r in chunks if r["id"] == 1]
    b = [r["chunk_text"] for r in chunks if r["id"] == 2]
    assert len(a) > 10  # expected chunk length ~8 tokens over 400
    from collections import Counter

    diff = Counter(b) - Counter(a)
    # the edit lands in exactly one chunk: one new chunk text (or two if
    # the inserted token itself opened a boundary), everything else reused
    assert sum(diff.values()) <= 2, diff
    stats = {
        r["id"]: (r["n_chunks"], r["n_dup_chunks"])
        for r in cdc_dedup_stats(df, trigger_mod=8).collect()
    }
    # nearly every chunk of each doc is seen in the other
    for i in (1, 2):
        n, dup = stats[i]
        assert dup >= n - 2, stats


def test_priority_sample_weight_bias_and_stability(spark):
    """Across 20 seeds, rows with 10x the weight win far more often; the
    sample for one seed is identical under repartitioning; weight-0 rows
    never appear."""
    rows = [(i, 1000 if i < 10 else 100) for i in range(100)] + [(500, 0)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    from chronographer_spark.operators.sampling import priority_sample

    heavy_wins = 0
    for seed in range(20):
        got = [
            r["doc_id"] for r in priority_sample(df, "w", k=10, seed=seed).collect()
        ]
        assert 500 not in got
        heavy_wins += sum(1 for d in got if d < 10)
    # heavy rows are 10% of the population but 10x the mass: they must
    # take well over half the slots on aggregate (exact share is hash-
    # dependent; 1/3 is a loose floor far above the unweighted 10%)
    assert heavy_wins > 20 * 10 / 3, heavy_wins

    a = [r["doc_id"] for r in priority_sample(df, "w", k=10, seed=7).collect()]
    b = [
        r["doc_id"]
        for r in priority_sample(df.repartition(13), "w", k=10, seed=7).collect()
    ]
    assert a == b


def test_blocked_match_scores_hand_fixture(spark):
    """Blocking bounds candidates (pairs outside every block never appear,
    even perfect matches), multi-block hits dedup to one row, weights sum
    per agreeing field, nulls never agree."""
    from chronographer_spark.linking.blocking import blocked_match_scores

    a = spark.createDataFrame(
        [
            (1, "ann", "US", "A"),
            (2, "bob", "US", "B"),
            (3, "cat", "FR", None),
        ],
        "id long, name string, country string, seg string",
    )
    b = spark.createDataFrame(
        [
            (11, "ann", "US", "A"),   # blocks: country AND seg -> dedup
            (12, "bob", "DE", "B"),   # seg block only; country disagrees
            (13, "cat", "FR", None),  # country block; null seg never agrees
            (14, "ann", "JP", "Z"),   # no shared block: never a candidate
        ],
        "id long, name string, country string, seg string",
    )
    got = {
        (r["a_id"], r["b_id"]): r["score"]
        for r in blocked_match_scores(
            a,
            b,
            id_col="id",
            blocks=[["country"], ["seg"]],
            agreements=[("name", 5), ("country", 2), ("seg", 1)],
            min_score=5,
        ).collect()
    }
    assert got == {(1, 11): 8, (2, 12): 6, (3, 13): 7}


def test_textrank_hub_token_ranks_first(spark):
    """A token adjacent to everything must out-rank peripheral tokens; a
    corpus with symmetric structure ties deterministically by token."""
    from chronographer_spark.operators.text import textrank_keywords

    docs = [
        (1, "hub alpha hub beta hub gamma hub delta"),
        (2, "hub epsilon hub zeta"),
        (3, "alpha beta"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = textrank_keywords(df, iterations=3, top_k=3).collect()
    by_rnk = {r["rnk"]: r["token"] for r in rows}
    assert by_rnk[1] == "hub"
    ranks = [r["rank_x1e6"] for r in sorted(rows, key=lambda r: r["rnk"])]
    assert ranks == sorted(ranks, reverse=True)


def test_unicode_parity_cdc_boilerplate_spans(spark):
    """Cross-engine unicode discipline for the new text operators: on a
    corpus with accents, CJK, and exotic whitespace, the Spark output of
    cdc_dedup_stats / boilerplate_removal / remove_repeated_spans matches
    a DuckDB replay of the same normalization (lower + \\s+ collapse) —
    the hazards are md5-of-multibyte, regex whitespace classes, and
    lower() on non-ASCII."""
    import duckdb

    from chronographer_spark.operators.dedup import (
        cdc_dedup_stats,
        remove_repeated_spans,
    )
    from chronographer_spark.operators.text import boilerplate_removal

    docs = [
        (1, "Café au lait est bon Café au lait encore"),
        (2, "café AU Lait est bon 日本語 テスト"),
        (3, "日本語 テスト compte rendu naïve"),
        (4, "Tabs\tand\nnewlines   collapse  too est bon"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT * FROM (VALUES "
                + ",".join("(%d, '%s')" % (i, t.replace("'", "''")) for i, t in docs)
                + ") t(doc_id, text)")

    import sys

    sys.path.insert(0, "/root/repo")
    from chronographer_spark import entry_queries as eq

    for name, op in [
        ("cdc", lambda: cdc_dedup_stats(df, trigger_mod=2)),
        ("boiler", lambda: boilerplate_removal(df, line_tokens=2,
                                               max_doc_frac=0.5, min_docs=2)),
        ("spans", lambda: remove_repeated_spans(df, n=2, min_docs=2)),
    ]:
        sql = {
            "cdc": eq.ORACLE_SQL["cdc_dedup_profile"].replace("% 8", "% 2"),
            "boiler": eq.ORACLE_SQL["boilerplate_clean"]
            .replace("0.03125", "0.5")
            .replace("s // 2", "s // 2")  # same line size
            ,
            "spans": eq.ORACLE_SQL["span_dedup_rewrite"]
            .replace("len(t) - 3 + 2", "len(t) - 2 + 2")
            .replace("t[i:i+2]", "t[i:i+1]")
            .replace("len(t) >= 3", "len(t) >= 2")
            .replace("range(g.pos, g.pos + 3)", "range(g.pos, g.pos + 2)"),
        }[name]
        exp = con.sql(sql).df()
        out = op().toPandas()
        out.columns = list(exp.columns)
        a = out.sort_values(list(out.columns)).reset_index(drop=True)
        b = exp.sort_values(list(exp.columns)).reset_index(drop=True)
        for c in a.columns:
            assert list(a[c].astype(str)) == list(b[c].astype(str)), (name, c)


def test_tool_loop_runs_hand_fixture(spark):
    """Runs count only the tool-turn subsequence (user/assistant turns
    between calls don't break a run), different tool breaks it, min_len
    filters, runs don't cross conversations."""
    from chronographer_spark.operators.dialogue import tool_loop_runs

    rows = [
        ("c1", 0, "user", ""),
        ("c1", 1, "tool", "search"),
        ("c1", 2, "assistant", ""),
        ("c1", 3, "tool", "search"),
        ("c1", 4, "tool", "search"),   # run of 3 'search'
        ("c1", 5, "tool", "browse"),   # breaks it
        ("c1", 6, "tool", "browse"),
        ("c2", 0, "tool", "search"),   # other conv: its own run of 1
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, tool string")
    got = {
        (r["conv_id"], r["tool"]): (r["run_len"], r["first_turn"], r["last_turn"])
        for r in tool_loop_runs(df, min_len=2).collect()
    }
    assert got == {("c1", "search"): (3, 1, 4), ("c1", "browse"): (2, 5, 6)}
    assert tool_loop_runs(df, min_len=4).count() == 0


def _bpe_python_model(word_freq, n_merges):
    """Driver-side replay of bpe_train: same sentinel-space encoding, same
    str.replace (left-to-right non-overlapping, identical to Spark/DuckDB
    replace()), same (count DESC, left, right) tie-break."""
    strs = {w: " " + " ".join(w) + " " for w in word_freq}
    merges = []
    for rnd in range(1, n_merges + 1):
        cnt = {}
        for w, s in strs.items():
            a = s.strip().split(" ")
            for i in range(len(a) - 1):
                cnt[(a[i], a[i + 1])] = cnt.get((a[i], a[i + 1]), 0) + word_freq[w]
        if not cnt:
            break
        (l, r), c = min(cnt.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((rnd, l, r, c))
        strs = {w: s.replace(f" {l} {r} ", f" {l}{r} ") for w, s in strs.items()}
    return merges


def test_bpe_train_matches_python_model(spark):
    from chronographer_spark.operators.bpe import bpe_segment, bpe_train, word_freqs

    rows = [
        (0, "banana bandana banana cabana"),
        (1, "naïve café naïve 日本語 banana"),
        (2, "aaaa aaaa aa banana bandana"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    wf = word_freqs(docs)
    freqs = {r["word"]: r["freq"] for r in wf.collect()}
    merges, mdf = bpe_train(wf, n_merges=5)
    assert [tuple(m) for m in merges] == _bpe_python_model(freqs, 5)
    assert mdf.count() == len(merges)

    # segmentation matches a per-doc replay; merges never cross the
    # double-space word boundary
    seg = {
        r["doc_id"]: r["n_tokens_bpe"]
        for r in bpe_segment(docs, merges).select("doc_id", "n_tokens_bpe").collect()
    }
    import re

    for doc_id, text in rows:
        words = [w for w in text.split(" ") if w]
        s = " " + "  ".join(" ".join(w) for w in words) + " "
        for _, l, r, _ in merges:
            s = s.replace(f" {l} {r} ", f" {l}{r} ")
        assert seg[doc_id] == len(re.split(" +", s.strip())), doc_id


def _bpe_batched_python_model(word_freq, n_rounds, batch_k):
    """Driver-side replay of bpe_train_batched: per round, rank pairs by
    (count DESC, left, right), keep top-batch_k candidates symbol-disjoint
    from every HIGHER-RANKED candidate in the window (kept or not), apply
    in rank order with the shared left-to-right replace()."""
    strs = {w: " " + " ".join(w) + " " for w in word_freq}
    merges = []
    for _ in range(n_rounds):
        cnt = {}
        for w, s in strs.items():
            a = s.strip().split(" ")
            for i in range(len(a) - 1):
                cnt[(a[i], a[i + 1])] = (
                    cnt.get((a[i], a[i + 1]), 0) + word_freq[w]
                )
        if not cnt:
            break
        cand = sorted(
            cnt.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[:batch_k]
        for i, ((l, r), c) in enumerate(cand):
            if all(
                {l, r}.isdisjoint({hl, hr}) for (hl, hr), _ in cand[:i]
            ):
                merges.append((len(merges) + 1, l, r, c))
                strs = {
                    w: s.replace(f" {l} {r} ", f" {l}{r} ")
                    for w, s in strs.items()
                }
    return merges


def test_bpe_train_batched_matches_python_model(spark):
    """bpe_train_batched vs the driver-side batched model on a corpus
    engineered to force conflicts in the candidate window (shared
    symbols among top pairs), plus batch_k=1 == sequential bpe_train
    exactly (the degenerate case)."""
    from chronographer_spark.operators.bpe import (
        bpe_train, bpe_train_batched, word_freqs,
    )

    rows = [
        (1, "abab abab abc bcd bcd cde abab"),
        (2, "ab bc cd de ab bc abab cde"),
        (3, "xyz xyz xy yz zz xyz"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    wf = {
        r["word"]: r["freq"] for r in word_freqs(docs).collect()
    }

    merges, _ = bpe_train_batched(word_freqs(docs), n_rounds=3, batch_k=4)
    model = _bpe_batched_python_model(wf, n_rounds=3, batch_k=4)
    assert [tuple(m) for m in merges] == model
    # at least one round must have kept >1 merge or the fixture is weak
    assert len(merges) > 3

    seq, _ = bpe_train(word_freqs(docs), n_merges=5)
    b1, _ = bpe_train_batched(word_freqs(docs), n_rounds=5, batch_k=1)
    assert [tuple(m) for m in seq] == [tuple(m) for m in b1]


def test_characteristic_sets_and_star_estimate(spark):
    """Hand fixture: s1 has {p,q} with counts (2,3), s2 has {p,q} with
    (1,1), s3 has {p} only. Sets: 'p|q' (2 subjects, 7 triples), 'p'
    (1 subject, 1 triple). Star estimate for (p,q): set p|q contributes
    t1*t2 DIV ns = 3*4 DIV 2 = 6; true = 2*3 + 1*1 = 7 — the gap is the
    within-set non-uniformity. A uniform fixture reads est == true."""
    from chronographer_spark.operators.cardinality import (
        characteristic_sets,
        star_cardinality_estimate,
    )

    rows = (
        [("s1", "p")] * 2 + [("s1", "q")] * 3
        + [("s2", "p"), ("s2", "q"), ("s3", "p")]
    )
    t = spark.createDataFrame(rows, "subject string, predicate string")
    cs = {
        r["cs_key"]: (r["n_subjects"], r["n_triples"])
        for r in characteristic_sets(t).collect()
    }
    assert cs == {"p|q": (2, 7), "p": (1, 1)}

    r = star_cardinality_estimate(t, ["p", "q"]).collect()[0]
    assert (r["est_rows"], r["true_rows"]) == (6, 7)

    uniform = spark.createDataFrame(
        [("a", "p"), ("a", "q"), ("b", "p"), ("b", "q")],
        "subject string, predicate string",
    )
    r2 = star_cardinality_estimate(uniform, ["p", "q"]).collect()[0]
    assert r2["est_rows"] == r2["true_rows"] == 2

    import pytest

    with pytest.raises(ValueError):
        star_cardinality_estimate(t, ["p"])


def test_bpe_unicode_cross_engine(spark):
    """substr/char_length vs DuckDB substr/length on multibyte text: the
    BPE oracle must pick the same merges on accents + CJK."""
    import duckdb

    from chronographer_spark import entry_queries as eq
    from chronographer_spark.operators.bpe import bpe_train_batched, word_freqs

    rows = [(1, "héllo héllo héllé 日本語 日本 語語"), (2, "héllo 日本語 ü ü üü")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ",".join("(%d, '%s')" % (i, t) for i, t in rows)
        + ") t(doc_id, text)"
    )
    exp = con.sql(eq.BPE_MERGES_SQL).df()
    merges, _ = bpe_train_batched(
        word_freqs(docs), n_rounds=eq._BPE_ROUNDS, batch_k=eq._BPE_BATCH_K
    )
    got = [(m[0], m[1], m[2], m[3]) for m in merges]
    expected = [
        (int(r.merge_round), r.left_sym, r.right_sym, int(r.pair_count))
        for r in exp.itertuples()
    ]
    assert got == sorted(expected)


def test_mine_path_rules_hand_graph(spark):
    """Hand-checkable KG: livesIn(x,y) ∧ inCountry(y,z) ⇒ citizenOf(x,z)
    holds for 2 of 3 people; support/confidence verified by hand, and a
    two-bridge endpoint pair counts ONCE (distinct-before-head-join)."""
    from chronographer_spark.graph.rules import mine_path_rules

    triples = [
        ("alice", "livesIn", "paris"),
        ("bob", "livesIn", "lyon"),
        ("carol", "livesIn", "paris"),
        ("paris", "inCountry", "france"),
        ("lyon", "inCountry", "france"),
        ("alice", "citizenOf", "france"),
        ("bob", "citizenOf", "france"),
        # two bridges between dave and germany: endpoint pair counts once
        ("dave", "livesIn", "berlin"),
        ("dave", "livesIn", "bonn"),
        ("berlin", "inCountry", "germany"),
        ("bonn", "inCountry", "germany"),
    ]
    g = spark.createDataFrame(triples, "subject string, predicate string, object string")
    rules = {
        (r["p1"], r["p2"], r["head_pred"]): (r["support"], r["n_pairs"], r["conf_x1e6"])
        for r in mine_path_rules(g, min_support=1).collect()
    }
    # bodies: alice/carol->paris->france, bob->lyon->france, dave->germany (x1)
    assert rules[("livesIn", "inCountry", "citizenOf")] == (2, 4, 500000)


def test_mine_path_rules_budget_guard(spark):
    """max_est_paths computes the exact degree-product wedge size and
    raises before paying for the join."""
    import pytest as _pytest

    from chronographer_spark.graph.rules import mine_path_rules

    g = spark.createDataFrame(
        [(f"s{i}", "p", "hub") for i in range(5)]
        + [("hub", "q", f"t{i}") for i in range(5)]
        + [("s0", "r", "t0")],  # one head edge so a rule survives
        "subject string, predicate string, object string",
    )
    with _pytest.raises(ValueError, match="25 paths exceeds budget"):
        mine_path_rules(g, max_est_paths=10)
    got = {
        (r["p1"], r["p2"], r["head_pred"]): (r["support"], r["n_pairs"])
        for r in mine_path_rules(g, max_est_paths=25).collect()
    }
    assert got[("p", "q", "r")] == (1, 25)


def test_fuse_attributes_majority_and_tiebreak(spark):
    """Majority wins; exact ties fall to the lexicographically smallest
    value; counters and the exact integer confidence are hand-checked."""
    from chronographer_spark.linking.fusion import fuse_attributes

    rows = [
        # e1 type: Person x3 vs Org x1 -> Person, 3/4
        ("e1", "type", "Person"), ("e1", "type", "Person"),
        ("e1", "type", "Person"), ("e1", "type", "Org"),
        # e1 name: exact 2-2 tie -> 'Alicia' < 'Alyce'
        ("e1", "name", "Alyce"), ("e1", "name", "Alicia"),
        ("e1", "name", "Alicia"), ("e1", "name", "Alyce"),
        ("e2", "type", "Place"),
    ]
    a = spark.createDataFrame(rows, "entity string, attr string, value string")
    got = {
        (r["entity"], r["attr"]): (
            r["fused_value"], r["votes"], r["total"], r["n_values"],
            r["confidence_x1e6"],
        )
        for r in fuse_attributes(a).collect()
    }
    assert got[("e1", "type")] == ("Person", 3, 4, 2, 750000)
    assert got[("e1", "name")] == ("Alicia", 2, 4, 2, 500000)
    assert got[("e2", "type")] == ("Place", 1, 1, 1, 1000000)


def test_fuse_attributes_pools_votes_through_referents(spark):
    """Aliases of one canonical entity pool their votes: separately each
    alias would fuse 'X', pooled the canonical entity fuses 'Y'."""
    from chronographer_spark.linking.fusion import fuse_attributes

    rows = [
        ("a1", "t", "X"), ("a1", "t", "Y"),
        ("a2", "t", "Y"), ("a2", "t", "Y"),
        ("a3", "t", "X"),
    ]
    a = spark.createDataFrame(rows, "entity string, attr string, value string")
    refs = spark.createDataFrame(
        [("a1", "a1"), ("a2", "a1"), ("a3", "z9")],
        "alias string, canonical string",
    )
    got = {
        (r["entity"], r["attr"]): (r["fused_value"], r["votes"], r["total"])
        for r in fuse_attributes(a, referents=refs).collect()
    }
    assert got[("a1", "t")] == ("Y", 3, 4)
    assert got[("z9", "t")] == ("X", 1, 1)


def test_transe_rank_eval_hand_values(spark):
    """Perfect translation ranks every true tail first; duplicate-vector
    ties fall to the smaller candidate id; rr/hit are exact integers."""
    from chronographer_spark.graph.link_prediction import transe_rank_eval

    line_e = spark.createDataFrame(
        [(i, [i]) for i in range(6)], "vec_id long, qvec array<int>"
    )
    line_t = spark.createDataFrame(
        [(i, "next", i + 1) for i in range(5)], "h long, r string, t long"
    )
    got = transe_rank_eval(line_t, line_e, k=2).collect()
    assert all(r["rank"] == 1 and r["rr_x1e6"] == 1000000 and r["hit"] == 1
               for r in got) and len(got) == 5

    # entity 0 and 1 share a vector; the true tail 1 ties with candidate 0
    # at distance 0 -> candidate 0 (smaller id) outranks it -> rank 2
    dup_e = spark.createDataFrame(
        [(0, [0]), (1, [0]), (2, [10])], "vec_id long, qvec array<int>"
    )
    dup_t = spark.createDataFrame([(0, "r", 1)], "h long, r string, t long")
    (row,) = transe_rank_eval(dup_t, dup_e, k=1).collect()
    assert (row["rank"], row["rr_x1e6"], row["hit"]) == (2, 500000, 0)


def test_clustering_eval_matches_python_model(spark):
    """Pairwise P/R/F1 and B-cubed from the cell-count identities match a
    brute-force Python model that enumerates record pairs."""
    from itertools import combinations

    from chronographer_spark.linking.er_eval import clustering_eval

    # 8 records, 3 pred clusters vs 3 gold entities with real disagreement
    rows = [
        (1, "p1", "g1"), (2, "p1", "g1"), (3, "p1", "g2"),
        (4, "p2", "g2"), (5, "p2", "g2"), (6, "p2", "g3"),
        (7, "p3", "g3"), (8, "p3", "g1"),
    ]
    labeled = spark.createDataFrame(rows, "id long, pred string, gold string")
    r = clustering_eval(labeled).collect()[0]

    pred = {i: p for i, p, _ in rows}
    gold = {i: g for i, _, g in rows}
    ids = sorted(pred)
    pp = {frozenset(x) for x in combinations(ids, 2) if pred[x[0]] == pred[x[1]]}
    gp = {frozenset(x) for x in combinations(ids, 2) if gold[x[0]] == gold[x[1]]}
    tp = pp & gp
    assert r["n_records"] == 8 and r["n_pred"] == 3 and r["n_gold"] == 3
    assert r["pred_pairs"] == len(pp) and r["gold_pairs"] == len(gp)
    assert r["tp_pairs"] == len(tp)
    assert r["pair_p_x1e6"] == len(tp) * 1000000 // len(pp)
    assert r["pair_r_x1e6"] == len(tp) * 1000000 // len(gp)
    assert r["pair_f1_x1e6"] == 2 * len(tp) * 1000000 // (len(pp) + len(gp))
    # B3: per-record cell/np and cell/ng quotients, then macro average
    cells: dict[tuple[str, str], int] = {}
    for i in ids:
        cells[(pred[i], gold[i])] = cells.get((pred[i], gold[i]), 0) + 1
    np_ = {p: sum(1 for i in ids if pred[i] == p) for p in pred.values()}
    ng_ = {g: sum(1 for i in ids if gold[i] == g) for g in gold.values()}
    b3p = sum(cells[(pred[i], gold[i])] * 1000000 // np_[pred[i]] for i in ids)
    b3r = sum(cells[(pred[i], gold[i])] * 1000000 // ng_[gold[i]] for i in ids)
    assert r["b3_p_x1e6"] == b3p // 8 and r["b3_r_x1e6"] == b3r // 8


def test_clustering_eval_empty_and_singletons(spark):
    """Totality: empty input and all-singleton clusterings (zero pairs)
    yield NULL quotients, never a division error."""
    from chronographer_spark.linking.er_eval import clustering_eval

    empty = spark.createDataFrame([], "id long, pred string, gold string")
    r = clustering_eval(empty).collect()[0]
    assert r["n_records"] == 0 and r["tp_pairs"] == 0
    assert r["pair_p_x1e6"] is None and r["b3_p_x1e6"] is None

    singles = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y")], "id long, pred string, gold string"
    )
    r = clustering_eval(singles).collect()[0]
    assert r["pred_pairs"] == 0 and r["gold_pairs"] == 0
    assert r["pair_f1_x1e6"] is None
    assert r["b3_p_x1e6"] == 1000000 and r["b3_r_x1e6"] == 1000000


def test_budget_sample_matches_python_model(spark):
    """Two-phase per-source prefix sampling equals the single-window
    definition: hash-ordered greedy take until budget, straddling doc
    included; zero-token docs ride along while under budget."""
    import hashlib

    from chronographer_spark.operators.sampling import budget_sample_per_source

    rows = [(i, "s%d" % (i % 3), (i * 7) % 50) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    got = {
        (r["doc_id"], r["source"], r["n_tokens"], r["cum_before"])
        for r in budget_sample_per_source(df, budget=300, n_parts=8).collect()
    }

    expect = set()
    for s in {"s0", "s1", "s2"}:
        docs = sorted(
            (r for r in rows if r[1] == s),
            key=lambda r: hashlib.md5(str(r[0]).encode()).hexdigest(),
        )
        cum = 0
        for i, src, nt in docs:
            if cum < 300:
                expect.add((i, src, nt, cum))
            cum += nt
    assert got == expect and len(got) > 0


def test_template_skeletons_hand_fixture(spark):
    """Digit runs mask to '#'; identical skeletons group across rows and
    containers; min_count filters; example is the pinned min text."""
    from chronographer_spark.operators.text import template_skeletons

    rows = [
        ("c1", "order 123 shipped on 2024-01-02"),
        ("c2", "order 9 shipped on 2025-12-31"),
        ("c1", "order 55 shipped on 2024-01-02"),
        ("c1", "hello world"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, text string")
    out = template_skeletons(df, id_col="conv_id", min_count=2).collect()
    assert len(out) == 1
    r = out[0]
    assert r["skeleton"] == "order # shipped on #-#-#"
    assert r["n_rows"] == 3 and r["n_groups"] == 2
    assert r["example"] == "order 123 shipped on 2024-01-02"


def test_resample_timeseries_linear_hand_computed(spark):
    """Bucket width 10, one key: obs at b0 (two events, floor-mean 10)
    and b3 (41); gaps b1/b2 interpolate with floor semantics 20/30."""
    from chronographer_spark.operators.temporal import resample_timeseries

    rows = [("k", 5, 10.0), ("k", 6, 11.0), ("k", 35, 41.0)]
    df = spark.createDataFrame(rows, "g string, e long, value double").select(
        "g", F.col("e").cast("timestamp").alias("ts"), "value"
    )
    out = resample_timeseries(
        df, keys=["g"], bucket_seconds=10, value_scale=1, method="linear"
    )
    got = {
        r["bucket_ts"]: (r["n_events"], r["v_x"], r["fill"])
        for r in out.collect()
    }
    assert got == {
        0: (2, 10, "obs"),      # (10+11) DIV 2 floor
        10: (0, 20, "gap"),     # 10 + 31*1 // 3 = 20
        20: (0, 30, "gap"),     # 10 + 31*2 // 3 = 30
        30: (1, 41, "obs"),
    }


def test_resample_timeseries_ffill_and_negative_truncation(spark):
    """ffill carries the last observation; the bucket mean of a negative
    sum truncates toward zero — Spark DIV == DuckDB integer `//`
    (measured: -3 // 2 = -1, -5266 // 11 = -478; NOT floor)."""
    from chronographer_spark.operators.temporal import resample_timeseries

    rows = [("k", 5, -1.0), ("k", 6, -2.0), ("k", 25, 7.0)]
    df = spark.createDataFrame(rows, "g string, e long, value double").select(
        "g", F.col("e").cast("timestamp").alias("ts"), "value"
    )
    out = resample_timeseries(
        df, keys=["g"], bucket_seconds=10, value_scale=1, method="ffill"
    )
    got = {r["bucket_ts"]: (r["v_x"], r["fill"]) for r in out.collect()}
    # sum -3 DIV 2 truncates to -1 (Spark DIV == DuckDB integer //)
    assert got == {0: (-1, "obs"), 10: (-1, "gap"), 20: (7, "obs")}


def test_l_diversity_profile_hand_fixture(spark):
    """Class (x): sensitive values {p,p,q} → 2 distinct over 3 rows;
    class (y): {p} → 1 distinct over 2 rows. l=2 exposes y; l=3 both."""
    from chronographer_spark.operators.text import l_diversity_profile

    rows = [("x", "p"), ("x", "p"), ("x", "q"), ("y", "p"), ("y", "p")]
    df = spark.createDataFrame(rows, "qi string, s string")
    got = {
        r["l"]: (r["n_classes"], r["classes_below"], r["rows_at_risk"], r["risk_x1e6"])
        for r in l_diversity_profile(df, ["qi"], "s", l_thresholds=(2, 3)).collect()
    }
    assert got[2] == (2, 1, 2, 400_000)
    assert got[3] == (2, 2, 5, 1_000_000)


def test_hits_hand_computed(spark):
    """Two unnormalized iterations on a->b, a->c, b->c, c->a, traced by
    hand: auth1=(1,1,2), hub1=(3,2,1), auth2=(1,3,5), hub2=(8,5,1)."""
    from chronographer_spark.operators.graph_algos import hits

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    got = {r["node"]: (r["hub"], r["auth"]) for r in hits(edges, 2).collect()}
    assert got == {"a": (8, 1), "b": (5, 3), "c": (1, 5)}


def test_frequent_subsequences_hand_enumerated(spark):
    """Single sequence (a,b,a,c): the four position triples are exactly
    {aba, abc, aac, bac}; greedy witnesses must find all of them and
    reject a>a>a (needs 3 a's) and a>c>x (nothing after pos 3)."""
    from chronographer_spark.operators.sequence import frequent_subsequences

    rows = [("s1", 0, "a"), ("s1", 1, "b"), ("s1", 2, "a"), ("s1", 3, "c")]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, tool string")
    got = {
        r["pattern"]: (r["length"], r["support"])
        for r in frequent_subsequences(df, min_support=1).collect()
    }
    assert {p for p, (l, _) in got.items() if l == 1} == {"a", "b", "c"}
    assert {p for p, (l, _) in got.items() if l == 2} == {
        "a>a", "a>b", "a>c", "b>a", "b>c",
    }
    assert {p for p, (l, _) in got.items() if l == 3} == {
        "a>b>a", "a>b>c", "a>a>c", "b>a>c",
    }
    assert all(s == 1 for _, s in got.values())


def test_frequent_subsequences_support_prunes(spark):
    """Support counts once per sequence; min_support=2 keeps only
    patterns present in both sequences."""
    from chronographer_spark.operators.sequence import frequent_subsequences

    rows = [
        ("s1", 0, "a"), ("s1", 1, "b"), ("s1", 2, "c"),
        ("s2", 0, "a"), ("s2", 1, "b"), ("s2", 5, "b"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, tool string")
    got = {
        r["pattern"]: r["support"]
        for r in frequent_subsequences(df, min_support=2).collect()
    }
    assert got == {"a": 2, "b": 2, "a>b": 2}


def test_k_anonymity_profile_hand_fixture(spark):
    """Classes over (a, b): sizes 3, 2, 1 → per-k exposure hand-checked."""
    from chronographer_spark.operators.text import k_anonymity_profile

    rows = [
        ("x", 1), ("x", 1), ("x", 1),
        ("y", 1), ("y", 1),
        ("z", 2),
    ]
    df = spark.createDataFrame(rows, "a string, b int")
    got = {
        r["k"]: r
        for r in k_anonymity_profile(df, ["a", "b"], k_thresholds=(2, 3, 4)).collect()
    }
    assert got[2]["n_classes"] == 3
    assert got[2]["classes_below"] == 1 and got[2]["rows_at_risk"] == 1
    assert got[2]["risk_x1e6"] == 1_000_000 // 6
    assert got[3]["classes_below"] == 2 and got[3]["rows_at_risk"] == 3
    assert got[3]["risk_x1e6"] == 500_000
    assert got[4]["classes_below"] == 3 and got[4]["rows_at_risk"] == 6
    assert got[4]["risk_x1e6"] == 1_000_000


def test_threshold_curve_hand_values(spark):
    """Cumulative precision/recall per score cutoff, descending."""
    from chronographer_spark.linking.er_eval import threshold_curve

    rows = [(11, 1), (11, 1), (10, 1), (1, 0), (1, 0), (1, 1)]
    df = spark.createDataFrame(rows, "score long, is_true long")
    got = {r["score"]: r for r in threshold_curve(df, gold_total=4).collect()}
    assert got[11]["cum_pairs"] == 2 and got[11]["cum_true"] == 2
    assert got[11]["precision_x1e6"] == 1000000
    assert got[11]["recall_x1e6"] == 500000
    assert got[10]["cum_pairs"] == 3 and got[10]["cum_true"] == 3
    assert got[1]["cum_pairs"] == 6 and got[1]["cum_true"] == 4
    assert got[1]["precision_x1e6"] == 4 * 1000000 // 6
    assert got[1]["recall_x1e6"] == 1000000


def test_distant_supervision_hand_fixture(spark):
    """Pattern profile + KB labeling on a 4-doc hand corpus."""
    from chronographer_spark.extraction.distant import (
        distant_supervision_patterns,
    )

    docs = spark.createDataFrame(
        [
            (1, "alice met bob today"),
            (2, "alice later met bob"),
            (3, "bob met alice"),
            (4, "alice met bob"),
        ],
        "doc_id long, text string",
    )
    kb = spark.createDataFrame(
        [("alice", "knows", "bob")], "subj string, pred string, obj string"
    )
    out = {
        r["pattern"]: r
        for r in distant_supervision_patterns(
            docs, ["alice", "bob"], kb, min_pairs=1
        ).collect()
    }
    met = out["met"]
    # d1 (a,b), d3 (b,a), d4 (a,b) carry "met"; KB labels only (alice,bob)
    assert met["n_pairs"] == 3 and met["n_docs"] == 3
    assert met["n_kb"] == 2 and met["top_pred"] == "knows"
    assert met["kb_precision_x1e6"] == 2 * 1000000 // 3
    later = out["later met"]
    assert later["n_pairs"] == 1 and later["n_kb"] == 1
    assert later["kb_precision_x1e6"] == 1000000


def test_affinity_classifier_hand_values(spark):
    """Laplace-smoothed token affinities and exact-integer doc scores."""
    from chronographer_spark.operators.classifier import classify_documents

    docs = spark.createDataFrame(
        [(1, "good good text", 1), (2, "bad bad text", 0)],
        "doc_id long, text string, is_pos long",
    )
    got = {
        r["id"]: r
        for r in classify_documents(docs, label_col="is_pos").collect()
    }
    # good: (2+1)*1e6 DIV 4 = 750000; bad: 1e6 DIV 4 = 250000; text: 500000
    assert got[1]["n_scored"] == 3
    assert got[1]["score_x1e6"] == (750000 * 2 + 500000) // 3
    assert got[2]["score_x1e6"] == (250000 * 2 + 500000) // 3
    # the positive-labeled doc scores strictly higher
    assert got[1]["score_x1e6"] > got[2]["score_x1e6"]


def test_snowball_extract_emits_new_triples_only(spark):
    """Reliable patterns apply back to the corpus; KB pairs are excluded."""
    from chronographer_spark.extraction.distant import snowball_extract

    docs = spark.createDataFrame(
        [
            (1, "alice met bob today"),
            (2, "alice met bob"),
            (3, "carol met dave"),
            (4, "bob met alice"),
        ],
        "doc_id long, text string",
    )
    kb = spark.createDataFrame(
        [("alice", "knows", "bob")], "subj string, pred string, obj string"
    )
    out = {
        (r["subj"], r["pred"], r["obj"]): r
        for r in snowball_extract(
            docs,
            ["alice", "bob", "carol", "dave"],
            kb,
            min_pattern_pairs=2,
            min_precision_x1e6=500000,
        ).collect()
    }
    # pattern "met": 4 pairs, 2 KB-labeled -> precision exactly 500000
    assert ("carol", "knows", "dave") in out
    assert ("bob", "knows", "alice") in out
    # the seed pair itself is never re-emitted
    assert ("alice", "knows", "bob") not in out
    assert out[("carol", "knows", "dave")]["support"] == 1


def test_ssl_label_propagation_path_graph(spark):
    """Seeds clamp; labels flow outward; midpoint tie -> smallest label."""
    from chronographer_spark.operators.graph_algos import ssl_label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    seeds = spark.createDataFrame(
        [(1, "a"), (5, "b")], "node long, label string"
    )
    got = {
        r["node"]: r["label"]
        for r in ssl_label_propagation(edges, seeds, iterations=2).collect()
    }
    # round 1: 2<-a, 4<-b, 3 unlabeled; round 2: 3 ties a/b -> 'a'
    assert got == {1: "a", 2: "a", 3: "a", 4: "b", 5: "b"}

    one = {
        r["node"]: r["label"]
        for r in ssl_label_propagation(edges, seeds, iterations=1).collect()
    }
    assert one[3] is None and one[2] == "a" and one[4] == "b"


def test_induce_subclass_hand_fixture(spark):
    """Containment direction, support floor, and mutual flag."""
    from chronographer_spark.graph.constraints import induce_subclass_candidates

    rows = [(i, "B") for i in range(1, 7)]          # B = {1..6}
    rows += [(i, "A") for i in range(1, 6)]         # A = {1..5} subset of B
    rows += [(i, "C") for i in range(1, 4)]         # C = {1,2,3}, support 3
    rows += [(i, "D") for i in range(10, 15)]       # D == E (equivalence)
    rows += [(i, "E") for i in range(10, 15)]
    typed = spark.createDataFrame(rows, "instance long, type string")
    got = {
        (r["sub"], r["sup"]): r
        for r in induce_subclass_candidates(
            typed, min_support=5, min_containment_x1e6=900000
        ).collect()
    }
    a_b = got[("A", "B")]
    assert a_b["n_sub"] == 5 and a_b["n_both"] == 5
    assert a_b["containment_x1e6"] == 1000000 and a_b["mutual"] == 0
    assert ("B", "A") not in got          # 5/6 = 833333 below threshold
    assert ("C", "B") not in got          # support 3 below the floor
    assert got[("D", "E")]["mutual"] == 1 and got[("E", "D")]["mutual"] == 1
    assert len(got) == 3


def test_induce_disjointness_hand_fixture(spark):
    """Never-co-typed pairs surface once; overlapping pairs drop."""
    from chronographer_spark.graph.constraints import (
        induce_disjointness_candidates,
    )

    rows = [(i, "A") for i in range(5)]
    rows += [(i, "B") for i in range(5, 10)]          # disjoint from A
    rows += [(i, "C") for i in range(4, 9)]           # overlaps both
    typed = spark.createDataFrame(rows, "instance long, type string")
    got = {
        (r["type_a"], r["type_b"]): r
        for r in induce_disjointness_candidates(typed, min_support=5).collect()
    }
    assert set(got) == {("A", "B")}
    r = got[("A", "B")]
    assert r["n_a"] == 5 and r["n_b"] == 5 and r["n_both"] == 0
    assert r["overlap_x1e6"] == 0


def test_induce_fd_candidates_hand_computed(spark):
    """g3 on a hand-computed mixed frame: one exact FD, one approximate
    (a determinant with a 2-1 value split keeps 2 of 3 rows), one total
    violation (every group split evenly)."""
    from chronographer_spark.graph.constraints import induce_fd_candidates

    rows = [
        # (k, a, b): k->a holds exactly; k->b approximate
        (1, "x", "p"),
        (1, "x", "p"),
        (1, "x", "q"),  # det 1: b split 2-1 -> keep 2 of 3
        (2, "y", "r"),
        (2, "y", "s"),  # det 2: b split 1-1 -> keep 1 of 2
        (3, "z", "t"),  # det 3: single row, holds
    ]
    df = spark.createDataFrame(rows, "k long, a string, b string")
    got = {
        r["fd"]: (r["total"], r["n_groups"], r["viol_groups"], r["g3_x1e6"])
        for r in induce_fd_candidates(
            df, [("k2a", "k", "a"), ("k2b", "k", "b")]
        ).collect()
    }
    assert got["k2a"] == (6, 3, 0, 0)
    # k2b: total 6, keep 2+1+1=4, drop 2 -> g3 = 2e6 DIV 6 = 333333
    assert got["k2b"] == (6, 3, 2, 333333)


def test_discover_unary_inds_hand_computed(spark):
    """A ⊆ B holds, B ⊄ A (partial 2/3), C disjoint from both (no rows);
    duplicates within a column collapse; NULLs are ignored."""
    from chronographer_spark.graph.constraints import discover_unary_inds

    a = spark.createDataFrame([(1,), (2,), (2,), (None,)], "v int")
    b = spark.createDataFrame([(1,), (2,), (3,)], "v int")
    c = spark.createDataFrame([(9,)], "v int")
    got = {
        (r["dep"], r["ref"]): (
            r["n_dep"], r["n_common"], r["holds"], r["containment_x1e6"]
        )
        for r in discover_unary_inds(
            [("A", a, "v"), ("B", b, "v"), ("C", c, "v")]
        ).collect()
    }
    assert got[("A", "B")] == (2, 2, 1, 1_000_000)
    assert got[("B", "A")] == (3, 2, 0, 666_666)
    assert ("A", "C") not in got and ("C", "B") not in got


def _py_pca_scores(vecs, bits=16):
    """Driver-side replica of pca_power_scores' exact integer algorithm."""
    def tdiv(a, d):
        return a // d if (a >= 0) == (d > 0) else -((-a) // d)

    dim = len(next(iter(vecs.values())))
    q = {}
    for k, v in vecs.items():
        ma = max(abs(x) for x in v)
        q[k] = [0] * dim if ma == 0 else [
            __import__("math").floor(x * 127.0 / ma + 0.5) for x in v
        ]
    n = len(q)
    s1 = [sum(q[k][i] for k in q) for i in range(dim)]
    m = [
        [
            n * sum(q[k][i] * q[k][j] for k in q) - s1[i] * s1[j]
            for j in range(dim)
        ]
        for i in range(dim)
    ]
    dm = max(1, max(abs(m[i][j]) for i in range(dim) for j in range(dim)) // (1 << 30))
    m = [[tdiv(m[i][j], dm) for j in range(dim)] for i in range(dim)]
    w = [1] * dim
    for _ in range(2):
        raw = [sum(m[i][j] * w[j] for j in range(dim)) for i in range(dim)]
        d = max(1, max(abs(x) for x in raw) // (1 << bits))
        w = [tdiv(x, d) for x in raw]
    return {k: sum(q[k][i] * w[i] for i in range(dim)) for k in q}


def test_pca_power_scores_matches_python_model(spark):
    """Exact integer equality with a driver-side replica, plus the scores
    must order by the dominant axis (variance 100x the others)."""
    from chronographer_spark.operators.similarity import pca_power_scores

    vecs = {
        k: [
            float(10 * ((k * 7) % 13) - 60),
            float((k * 3) % 5 - 2),
            float((k * 11) % 7 - 3),
            float(k % 2),
        ]
        for k in range(24)
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in vecs.items()], "vec_id long, embedding array<float>"
    )
    got = {
        r["vec_id"]: r["pc1_score"]
        for r in pca_power_scores(df, "embedding", "vec_id").collect()
    }
    exp = _py_pca_scores({k: list(map(float, v)) for k, v in vecs.items()})
    assert got == exp
    # the fixed-point power iteration must track the TRUE PC1 projection
    # of the quantized matrix (quantization itself is the documented
    # input transform; PCA is not scale-invariant, so the raw-axis
    # correlation is necessarily weaker)
    import math

    import numpy as np

    q = np.array(
        [
            [math.floor(x * 127.0 / max(abs(y) for y in v) + 0.5) for x in v]
            for v in (vecs[k] for k in sorted(vecs))
        ],
        dtype=float,
    )
    qc = q - q.mean(axis=0)
    _, _, vt = np.linalg.svd(qc, full_matrices=False)
    true_proj = q @ vt[0]
    ours = np.array([got[k] for k in sorted(vecs)], dtype=float)
    r = abs(np.corrcoef(ours, true_proj)[0, 1])
    assert r > 0.99, r


def test_t_closeness_profile_hand_fixture(spark):
    """Two classes, both at exact TVD 0.25 from the global distribution
    (hand-computed: class A {x:2,y:2} vs global {x:.75,y:.25} -> 0.25;
    class B {x:4} with y ABSENT -> the absent-value term carries 0.25),
    so thresholds straddling 250000 flip classes_above between 2 and 0."""
    from chronographer_spark.operators.text import t_closeness_profile

    rows = [("A", "x")] * 2 + [("A", "y")] * 2 + [("B", "x")] * 4
    df = spark.createDataFrame(rows, "cls string, sens string")
    got = {
        r["t_x1e6"]: (
            r["n_classes"], r["classes_above"], r["rows_at_risk"], r["risk_x1e6"]
        )
        for r in t_closeness_profile(
            df, ["cls"], "sens", t_thresholds_x1e6=(200000, 250000, 300000)
        ).collect()
    }
    assert got == {
        200000: (2, 2, 8, 1000000),
        250000: (2, 0, 0, 0),
        300000: (2, 0, 0, 0),
    }


def test_modularity_profile_hand_computed(spark):
    """Two triangles joined by a bridge, communities = the triangles:
    m=7, each community has e_c=3, d_c=7 -> s=500,
    q_x1e6 = 3000000//7 - 250000 = 178571 (exact: quantization lands on
    the true value here since 7/14 = 0.5 exactly)."""
    from chronographer_spark.operators.graph_algos import modularity_profile

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (4, 6)],
        "src long, dst long",
    )
    comm = spark.createDataFrame(
        [(n, "L") for n in (1, 2, 3)] + [(n, "R") for n in (4, 5, 6)],
        "node long, community string",
    )
    got = {
        r["community"]: (
            r["n_nodes"], r["degree_sum"], r["intra_edges"], r["q_x1e6"]
        )
        for r in modularity_profile(edges, comm).collect()
    }
    assert got == {"L": (3, 7, 3, 178571), "R": (3, 7, 3, 178571)}


def test_modularity_single_community_is_zero(spark):
    """Invariant: the all-in-one partition has Q = m/m - 1 = 0 exactly,
    and a community with NO intra edges gets the pure -s^2 penalty."""
    from chronographer_spark.operators.graph_algos import modularity_profile

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    one = spark.createDataFrame(
        [(n, "all") for n in (1, 2, 3, 4)], "node long, community string"
    )
    [r] = modularity_profile(edges, one).collect()
    assert (r["intra_edges"], r["q_x1e6"]) == (3, 0)
    # bipartite-split: no intra edges on either side
    alt = spark.createDataFrame(
        [(1, "A"), (3, "A"), (2, "B"), (4, "B")],
        "node long, community string",
    )
    got = {
        r["community"]: (r["intra_edges"], r["q_x1e6"])
        for r in modularity_profile(edges, alt).collect()
    }
    # d_A = deg(1)+deg(3) = 1+2 = 3 -> s = 3000//6 = 500 -> -250000
    # d_B = deg(2)+deg(4) = 2+1 = 3 -> same
    assert got == {"A": (0, -250000), "B": (0, -250000)}


def test_coalesce_intervals_hand_computed(spark):
    """Chained overlap merges transitively ([1,5],[4,8],[8,10] -> one
    island: touching endpoints overlap), a contained interval doesn't
    extend the running end, a gap opens a new island, and max_gap bridges
    it; keys never merge across each other."""
    from chronographer_spark.operators.temporal import coalesce_intervals

    rows = [
        ("a", 1, 5), ("a", 4, 8), ("a", 8, 10),   # one island via chaining
        ("a", 2, 3),                              # contained
        ("a", 12, 13),                            # gap of 2 after 10
        ("b", 1, 2), ("b", 100, 101),
    ]
    df = spark.createDataFrame(rows, "k string, start long, end long")
    got = sorted(
        (r["k"], r["start"], r["end"], r["n_merged"])
        for r in coalesce_intervals(df, ["k"], "start", "end").collect()
    )
    assert got == [
        ("a", 1, 10, 4), ("a", 12, 13, 1), ("b", 1, 2, 1), ("b", 100, 101, 1)
    ]
    bridged = sorted(
        (r["k"], r["start"], r["end"], r["n_merged"])
        for r in coalesce_intervals(df, ["k"], "start", "end", max_gap=2).collect()
    )
    assert bridged == [("a", 1, 13, 5), ("b", 1, 2, 1), ("b", 100, 101, 1)]


def _brute_skyline(pts):
    def dominated(r, s):
        return s[0] >= r[0] and s[1] >= r[1] and (s[0] > r[0] or s[1] > r[1])

    return sorted(
        r for i, r in enumerate(pts)
        if not any(dominated(r, s) for j, s in enumerate(pts) if j != i)
    )


def test_skyline_2d_matches_brute_force(spark):
    """Pseudo-random points incl. exact (x,y) duplicates and same-x ties;
    grid-pruned two-phase result must equal the NOT-EXISTS definition,
    at a bucket width that forces multi-bucket pruning AND width 1e9
    (single bucket: pruning disabled, exact pass does all the work)."""
    from chronographer_spark.operators.sampling import skyline_2d

    pts = [((k * 37) % 101, (k * 61) % 97) for k in range(120)]
    pts += [(100, 5), (100, 5), (50, 96), (50, 90)]  # dupes + same-x tie
    df = spark.createDataFrame(pts, "x long, y long")
    exp = _brute_skyline(pts)
    for width in (16, 10**9):
        got = sorted(
            (r["x"], r["y"])
            for r in skyline_2d(df, "x", "y", bucket_width=width).collect()
        )
        assert got == exp, (width, got, exp)


def test_sorted_neighborhood_pairs_matches_model(spark):
    """Pairs must be exactly {(a,b): 0 < rank_b - rank_a <= w} under the
    (key, id) global order — verified against a Python sort at a window
    that crosses both range-partition AND rank-bucket boundaries."""
    from chronographer_spark.linking.blocking import sorted_neighborhood_pairs

    rows = [(f"k{(i * 7) % 23:02d}", i) for i in range(57)]
    df = spark.createDataFrame(rows, "key string, rid long")
    order = [rid for _, rid in sorted((k, rid) for k, rid in rows)]
    w = 4
    exp = sorted(
        (order[i], order[j], j - i)
        for i in range(len(order))
        for j in range(i + 1, min(i + w + 1, len(order)))
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["dist"])
        for r in sorted_neighborhood_pairs(
            df, ["key"], "rid", window=w, n_parts=8
        ).collect()
    )
    assert got == exp
    assert len(got) == 57 * w - w * (w + 1) // 2


def test_cusum_alarms_matches_recurrence(spark):
    """The window-identity S must equal the textbook recurrence
    max(0, S_prev + d) replayed in Python, and a level shift (rate
    doubles halfway) must alarm in the shifted half while a flat series
    never alarms."""
    import datetime as dt

    from chronographer_spark.operators.temporal import cusum_alarms

    base = dt.datetime(2024, 1, 1)
    rows = []
    # key "shift": 5 events/day for 6 days, then 11/day for 6 days
    for day in range(12):
        n = 5 if day < 6 else 11
        for i in range(n):
            rows.append(("shift", base + dt.timedelta(days=day, minutes=i)))
    # key "flat": constant 7/day
    for day in range(12):
        for i in range(7):
            rows.append(("flat", base + dt.timedelta(days=day, minutes=i)))
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    got = {
        (r["event_type"], r["bucket_ts"].day): r["s_scaled"]
        for r in cusum_alarms(df, thr_buckets=2).collect()
    }
    # python replica: B=12, T=96 for shift; d = n*12 - 96
    s, expected = 0, {}
    for day in range(12):
        n = 5 if day < 6 else 11
        s = max(0, s + n * 12 - 96)
        if s > 2 * 96:
            expected[("shift", day + 1)] = s
    assert expected and got == expected


def test_copurchase_lift_matches_model(spark):
    """Staged integer lift must equal an itertools replica, presence
    semantics must collapse duplicate (basket, item) rows, and max_basket
    must drop the oversized basket before the pair fan."""
    from itertools import combinations

    from chronographer_spark.operators.baskets import copurchase_lift

    baskets = {
        "b1": ["milk", "bread", "eggs"],
        "b2": ["milk", "bread"],
        "b3": ["milk", "eggs"],
        "b4": ["bread"],
        "b5": ["milk", "bread", "eggs"],
    }
    rows = [(b, i) for b, items in baskets.items() for i in items]
    rows.append(("b1", "milk"))  # duplicate observation: must collapse
    df = spark.createDataFrame(rows, "basket_id string, item string")
    got = {
        (r["item_a"], r["item_b"]): (
            r["n_pairs"], r["n_a"], r["n_b"], r["n_baskets"], r["lift_x1e6"]
        )
        for r in copurchase_lift(df).collect()
    }
    n = {}
    pair = {}
    for b, items in baskets.items():
        for i in set(items):
            n[i] = n.get(i, 0) + 1
        for a, c in combinations(sorted(set(items)), 2):
            pair[(a, c)] = pair.get((a, c), 0) + 1
    N = len(baskets)
    exp = {
        k: (v, n[k[0]], n[k[1]], N, ((v * 1000000) // n[k[0]]) * N // n[k[1]])
        for k, v in pair.items()
    }
    assert got == exp
    # milk+bread: 3 of 5 baskets, n_milk=4, n_bread=4 -> lift 0.9375
    assert got[("bread", "milk")][4] == ((3 * 1000000) // 4) * 5 // 4

    guarded = copurchase_lift(df, max_basket=2).collect()
    # b1/b5 (3 items) are dropped; survivors b2, b3 and singleton b4 -> N=3
    assert {(r["item_a"], r["item_b"], r["n_baskets"]) for r in guarded} == {
        ("bread", "milk", 3), ("eggs", "milk", 3)
    }


def test_cohort_retention_matches_model(spark):
    """Hand fixture: two cohorts with known day-level activity; the age-0
    row must read exactly 1e6, multiple same-day events must collapse, and
    week bucketing must divide ages by 7."""
    import datetime as dt

    from chronographer_spark.operators.temporal import cohort_retention

    d0 = dt.datetime(2024, 3, 4)  # a Monday (clean week truncation)

    def ev(u, day, hour=9):
        return (u, d0 + dt.timedelta(days=day, hours=hour))

    rows = [
        # cohort day 0: u1 active days 0,1,3; u2 active days 0,1; u3 day 0 only
        ev("u1", 0), ev("u1", 0, 15), ev("u1", 1), ev("u1", 3),
        ev("u2", 0), ev("u2", 1),
        ev("u3", 0),
        # cohort day 2: u4 active days 2,3
        ev("u4", 2), ev("u4", 3),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    got = {
        (r["cohort"], r["age"]): (r["n_active"], r["cohort_size"], r["retention_x1e6"])
        for r in cohort_retention(df).collect()
    }
    exp = {
        ("2024-03-04", 0): (3, 3, 1000000),
        ("2024-03-04", 1): (2, 3, 666666),
        ("2024-03-04", 3): (1, 3, 333333),
        ("2024-03-06", 0): (1, 1, 1000000),
        ("2024-03-06", 1): (1, 1, 1000000),
    }
    assert got == exp

    wk = {
        (r["cohort"], r["age"]): r["n_active"]
        for r in cohort_retention(df, bucket="week").collect()
    }
    # all activity lands in the week of 2024-03-04 -> one cohort, age 0
    assert wk == {("2024-03-04", 0): 4}


def test_acf_buckets_matches_model(spark):
    """ACF vs a Python replica of the exact staged-integer semantics
    (truncated DIV/% like both engines): a sawtooth alternation must read
    strongly negative at lag 1 and positive at lag 2; a constant series
    (den = 0) must read 0 at every lag."""
    import datetime as dt

    from chronographer_spark.operators.temporal import acf_buckets

    def tdiv(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    def tmod(a, b):
        return a - tdiv(a, b) * b

    base = dt.datetime(2024, 5, 1)
    series = {"saw": [2, 10, 2, 10, 2, 10, 2, 10], "flat": [4] * 8}
    rows = [
        (k, base + dt.timedelta(days=day, minutes=i))
        for k, ns in series.items()
        for day, n in enumerate(ns)
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    got = {
        (r["event_type"], r["lag"]): (r["n_buckets"], r["n_pairs"], r["acf_x1e3"])
        for r in acf_buckets(df, lags=(1, 2)).collect()
    }
    exp = {}
    for k, ns in series.items():
        T, B = sum(ns), len(ns)
        d = [
            max(-1000000, min(1000000,
                tdiv(n * B - T, T) * 1000 + tdiv(tmod(n * B - T, T) * 1000, T)))
            for n in ns
        ]
        den = sum(x * x for x in d)
        for lag in (1, 2):
            num = sum(d[i] * d[i + lag] for i in range(B - lag))
            acf = 0 if den == 0 else tdiv(num * 1000, den)
            exp[(k, lag)] = (B, B - lag, acf)
    assert got == exp
    assert got[("saw", 1)][2] < -800  # alternation: near-perfect anticorrelation
    assert got[("saw", 2)][2] == 750  # 6 of 8 aligned pairs: 6d²/8d²
    assert got[("flat", 1)][2] == 0 and got[("flat", 2)][2] == 0


def test_harmonic_closeness_hand_graph(spark):
    """Directed path a->b->c->d plus isolate source e: hand-computed
    truncated harmonic sums, direction respected, unreached source reads
    zeros, rounds bound honored."""
    from chronographer_spark.operators.graph_algos import harmonic_closeness

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    srcs = spark.createDataFrame([("a",), ("c",), ("e",)], "node string")
    got = {
        r["node"]: (r["n_reached"], r["harmonic_x1e6"])
        for r in harmonic_closeness(edges, sources=srcs, rounds=2).collect()
    }
    # a reaches b@1, c@2 (d is 3 hops, beyond rounds=2): 1e6 + 5e5
    # c reaches d@1; e reaches nothing
    assert got == {"a": (2, 1500000), "c": (1, 1000000), "e": (0, 0)}

    all_src = {
        r["node"]: r["harmonic_x1e6"]
        for r in harmonic_closeness(edges, rounds=3).collect()
    }
    # default sources = every endpoint; a now reaches d@3 too
    assert all_src == {
        "a": 1000000 + 500000 + 333333,
        "b": 1500000,
        "c": 1000000,
        "d": 0,
    }


def test_mk_trend_matches_model(spark):
    """Kendall S vs an itertools replica: a strictly increasing series
    reads tau = 1e6, a sawtooth reads near 0, and single-bucket keys are
    absent (tau undefined)."""
    import datetime as dt
    from itertools import combinations

    from chronographer_spark.operators.temporal import mk_trend

    base = dt.datetime(2024, 7, 1)
    series = {
        "up": [1, 2, 3, 5, 8],
        "saw": [3, 1, 3, 1, 3],
        "lone": [4],
    }
    rows = [
        (k, base + dt.timedelta(days=day, minutes=i))
        for k, ns in series.items()
        for day, n in enumerate(ns)
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    got = {
        r["event_type"]: (r["n_buckets"], r["n_pairs"], r["s_stat"], r["tau_x1e6"])
        for r in mk_trend(df).collect()
    }

    def tdiv(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    exp = {}
    for k, ns in series.items():
        if len(ns) < 2:
            continue
        pairs = list(combinations(range(len(ns)), 2))
        s = sum(
            (1 if ns[j] > ns[i] else -1 if ns[j] < ns[i] else 0)
            for i, j in pairs
        )
        exp[k] = (len(ns), len(pairs), s, tdiv(s * 1000000, len(pairs)))
    assert got == exp
    assert got["up"][3] == 1000000
    assert abs(got["saw"][3]) < 300000
    assert "lone" not in got


def test_gini_concentration_matches_model(spark):
    """Hand fixture vs the sorted-rank identity replayed in Python: a
    uniform key reads 0, a hub-dominated key reads high, and a single-unit
    key reads 0 by the identity (2·1·T − 2T = 0)."""
    from chronographer_spark.operators.text import gini_concentration

    masses = {
        "uniform": {"u1": 5, "u2": 5, "u3": 5, "u4": 5},
        "hub": {"u1": 1, "u2": 1, "u3": 1, "u4": 97},
        "solo": {"u9": 7},
    }
    rows = [
        (k, u, i)
        for k, us in masses.items()
        for u, n in us.items()
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "event_type string, user_id string, i int")
    got = {
        r["event_type"]: (r["n_units"], r["total"], r["gini_x1e6"])
        for r in gini_concentration(df).collect()
    }
    exp = {}
    for k, us in masses.items():
        xs = sorted(us.values())
        b, t = len(xs), sum(xs)
        rx = sum((i + 1) * x for i, x in enumerate(xs))
        exp[k] = (b, t, (2 * rx - (b + 1) * t) * 1000000 // (b * t))
    assert got == exp
    assert got["uniform"][2] == 0
    assert got["hub"][2] > 700000
    assert got["solo"][2] == 0


def test_gk_lambda_matches_model(spark):
    """Hand contingency vs a Python replica; a perfect predictor reads
    1e6, an independent column reads 0, and a constant target reads 0 by
    the documented convention."""
    from collections import Counter

    from chronographer_spark.graph.constraints import gk_lambda

    rows = []
    # mixed association: a->mostly y1, b->always y2, c->split
    data = [("a", "y1")] * 3 + [("a", "y2")] + [("b", "y2")] * 4 \
        + [("c", "y1")] + [("c", "y2")]
    for x, y in data:
        # perfect: y copies x; const: always "k"
        rows.append((x, y, x, "k"))
    df = spark.createDataFrame(rows, "x string, y string, px string, const string")
    got = {
        r["assoc"]: (r["total"], r["n_x"], r["s_max"], r["maxcol"], r["lambda_x1e6"])
        for r in gk_lambda(
            df, [("xy", "x", "y"), ("perfect", "x", "px"), ("const", "x", "const")]
        ).collect()
    }

    def model(pairs):
        n = len(pairs)
        cells = Counter(pairs)
        xs = {x for x, _ in pairs}
        s_max = sum(max(c for (xx, _), c in cells.items() if xx == x) for x in xs)
        maxcol = max(Counter(y for _, y in pairs).values())
        lam = 0 if n == maxcol else (s_max - maxcol) * 1000000 // (n - maxcol)
        return (n, len(xs), s_max, maxcol, lam)

    assert got["xy"] == model([(x, y) for x, y, _, _ in rows])
    assert got["perfect"] == model([(x, px) for x, _, px, _ in rows])
    assert got["const"] == model([(x, c) for x, _, _, c in rows])
    assert got["perfect"][4] == 1000000
    assert got["const"][4] == 0


def test_decayed_activity_matches_model(spark):
    """Exact bit-shift decay vs a Python replica: an event today weighs
    1e6, one exactly one half-life old weighs 5e5, the clamp floors
    ancient events at weight 0 (1e6 >> 40), and negative ages (events
    after asof) clamp to shift 0."""
    import datetime as dt

    from chronographer_spark.operators.temporal import decayed_activity

    asof = dt.date(2024, 1, 31)
    rows = [
        ("fresh", dt.datetime(2024, 1, 31, 12)),      # age 0 -> 1e6
        ("fresh", dt.datetime(2024, 1, 24, 8)),        # age 7 -> 5e5
        ("fresh", dt.datetime(2024, 1, 10, 8)),        # age 21 -> 125000
        ("stale", dt.datetime(2014, 1, 1)),            # ~3600 days -> shift 40 -> 0
        ("future", dt.datetime(2024, 2, 3)),           # age -3 -> clamp 0 -> 1e6
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    got = {
        r["key"]: (r["n_events"], r["last_age_days"], r["score_x1e6"])
        for r in decayed_activity(
            df, key="user_id", asof="2024-01-31", halflife_days=7
        ).collect()
    }
    exp = {}
    for k, ts in rows:
        age = (asof - ts.date()).days
        sh = min(40, max(0, age // 7))
        n, last, s = exp.get(k, (0, 10**9, 0))
        exp[k] = (n + 1, min(last, age), s + (1000000 >> sh))
    assert got == exp
    assert got["fresh"] == (3, 0, 1000000 + 500000 + 125000)
    assert got["stale"][2] == 0
    assert got["future"] == (1, -3, 1000000)


def test_blocked_levenshtein_pairs_hand_fixture(spark):
    """Near-miss surfaces inside the sort window score their true edit
    distance; pairs beyond max_dist and records outside the window are
    absent; truncation caps the compared surface."""
    from chronographer_spark.linking.blocking import blocked_levenshtein_pairs

    rows = [
        (1, "apple pie"),
        (2, "apple pia"),      # lev 1 from apple pie
        (3, "apple tart"),     # lev 4 from pie (filtered at max_dist=2)
        (4, "zzzz totally different"),
        (5, "apple pi"),       # lev 1 from pie, 2 from pia... within window
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "key", F.substring("text", 1, 16)
    )
    got = {
        frozenset((r["id_a"], r["id_b"])): r["lev"]
        for r in blocked_levenshtein_pairs(
            df, ["key"], "doc_id", "text", window=4, max_dist=2
        ).collect()
    }
    import itertools

    def lev(a, b):
        d = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, d[0] = d[0], i
            for j, cb in enumerate(b, 1):
                prev, d[j] = d[j], min(d[j] + 1, d[j - 1] + 1, prev + (ca != cb))
        return d[len(b)]

    texts = dict(rows)
    exp = {
        frozenset((a, b)): lev(texts[a], texts[b])
        for a, b in itertools.combinations(sorted(texts), 2)
        if lev(texts[a], texts[b]) <= 2
    }
    # window 4 over 5 records: every pair is a candidate, so blocking
    # doesn't drop any qualifying pair in this fixture (pair orientation
    # follows the blocking-key rank, hence the unordered comparison)
    assert got == exp
    assert got[frozenset((1, 2))] == 1 and got[frozenset((1, 5))] == 1
    assert got[frozenset((2, 5))] == 1  # "apple pia" vs "apple pi"
    assert frozenset((1, 3)) not in got


def test_reciprocity_profile_hand_graph(spark):
    """Hand graph: 2 mutual pairs (4 reciprocal edge rows), 2 one-way
    edges, 1 self-loop, 1 duplicate row that must collapse."""
    from chronographer_spark.operators.graph_algos import reciprocity_profile

    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "a"),          # mutual
            ("c", "d"), ("d", "c"),          # mutual
            ("a", "c"), ("e", "a"),          # one-way
            ("e", "e"),                        # self loop
            ("a", "b"),                        # duplicate
        ],
        "src string, dst string",
    )
    r = reciprocity_profile(edges).collect()[0]
    assert (r["n_nodes"], r["n_edges"], r["n_reciprocal"], r["n_self"]) == (5, 6, 4, 1)
    assert r["reciprocity_x1e6"] == 4 * 1000000 // 6


def test_completeness_profile_hand_fixture(spark):
    """Nulls, empties, distinct counts, and the pinned (count, value)
    arg-max replayed by hand; the null sentinel never collides with a
    literal value."""
    from chronographer_spark.operators.text import completeness_profile

    rows = [
        ("a", "x", None),
        ("a", " ", 1),
        ("b", "x", 2),
        (None, "y", 2),
        ("b", None, 2),
    ]
    df = spark.createDataFrame(rows, "c1 string, c2 string, c3 int")
    got = {
        r["col"]: (
            r["n_rows"], r["n_null"], r["n_empty"], r["n_distinct"],
            r["top_value"], r["top_count"],
        )
        for r in completeness_profile(df, ["c1", "c2", "c3"]).collect()
    }
    # c1: 5 rows, 1 null, distinct {a,b}; tie a=2 b=2 -> largest value "b"
    assert got["c1"] == (5, 1, 0, 2, "b", 2)
    # c2: 1 null, 1 empty-after-trim (" "), distinct {x," ",y}; top "x"=2
    assert got["c2"] == (5, 1, 1, 3, "x", 2)
    # c3 ints cast to string; top "2"=3
    assert got["c3"] == (5, 1, 0, 2, "2", 3)


def test_benford_profile_matches_model(spark):
    """Digit extraction from the scaled-integer rendering, exact shares,
    and zero/negative/null exclusion — vs a Python replica."""
    from collections import Counter

    from chronographer_spark.operators.text import BENFORD_X1E6, benford_profile

    vals = [1.0, 1.5, 19.0, 0.002, 23.0, 31.0, 345.6, 0.0, -27.0, None, 9.9]
    df = spark.createDataFrame([(v,) for v in vals], "value double")
    got = {
        r["digit"]: (r["n"], r["share_x1e6"], r["benford_x1e6"], r["dev_x1e6"])
        for r in benford_profile(df).collect()
    }
    kept = [abs(v) for v in vals if v is not None and abs(v) > 0]
    digits = Counter(int(str(int(v * 1000000))[0]) for v in kept)
    t = sum(digits.values())
    exp = {
        d: (c, c * 1000000 // t, BENFORD_X1E6[d - 1],
            c * 1000000 // t - BENFORD_X1E6[d - 1])
        for d, c in digits.items()
    }
    assert got == exp
    assert 2 in got and got[2][0] == 3  # 0.002, 23.0, -27.0 (sign stripped)


def test_ngram_novelty_curve_hand_fixture(spark):
    """First-occurrence attribution, cumulative exact shares, and the
    saturating-corpus shape: a repeated document contributes zero novel
    grams in its later bucket."""
    from chronographer_spark.operators.text import ngram_novelty_curve

    rows = [
        (0, "a b c d"),        # bucket 0: grams 'a b c', 'b c d' (both novel)
        (1, "a b c e"),        # bucket 0: 'a b c' seen, 'b c e' novel
        (2, "x y z w"),        # bucket 1: 2 novel
        (3, "a b c d"),        # bucket 1: 0 novel (exact repeat)
        (4, "q"),              # too short: dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["bucket"]: (
            r["n_grams"], r["n_novel"], r["cum_novel"], r["cum_grams"],
            r["novelty_x1e6"],
        )
        for r in ngram_novelty_curve(df, n=3, bucket_size=2).collect()
    }
    # bucket 0: 4 grams, 3 novel; bucket 1: 4 grams, 2 novel
    assert got == {
        0: (4, 3, 3, 4, 750000),
        1: (4, 2, 5, 8, 625000),
    }


def test_rolling_counts_calendar_semantics(spark):
    """RANGE (calendar) frames vs a Python replica: a gap in activity
    shrinks the trailing sum — the frame is time, not rows."""
    import datetime as dt

    from chronographer_spark.operators.temporal import rolling_counts

    base = dt.datetime(2024, 1, 1)
    # active days 0,1,2 then a 5-day gap then 8,9
    day_counts = {0: 2, 1: 3, 2: 1, 8: 4, 9: 2}
    rows = [
        ("k", base + dt.timedelta(days=d, minutes=i))
        for d, n in day_counts.items()
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    got = {
        r["bucket_ts"].day - 1: (r["n_events"], r["trail_sum"], r["trail_active"])
        for r in rolling_counts(df, trail_buckets=3).collect()
    }
    exp = {}
    for d, n in day_counts.items():
        in_frame = [dd for dd in day_counts if d - 2 <= dd <= d]
        exp[d] = (n, sum(day_counts[dd] for dd in in_frame), len(in_frame))
    assert got == exp
    # the day after the gap sees ONLY itself (days 6,7 empty)
    assert got[8] == (4, 4, 1)
    assert got[9] == (2, 6, 2)


def test_group_kfold_stability_and_leakage(spark):
    """Fold assignment is a pure function of the group key (same fold for
    every row of a group, identical across independent calls and k-subset
    inputs); the report shows zero leakage and exact shares."""
    from chronographer_spark.operators.sampling import group_kfold, kfold_report

    rows = [(f"g{i % 20}", i) for i in range(200)]
    df = spark.createDataFrame(rows, "conv_id string, i long")
    folded = group_kfold(df, "conv_id", k=4).collect()
    by_group = {}
    for r in folded:
        by_group.setdefault(r["conv_id"], set()).add(r["fold"])
    assert all(len(s) == 1 for s in by_group.values())
    assert {f for s in by_group.values() for f in s} <= {0, 1, 2, 3}

    # stability: a subset input yields the same assignment per group
    sub = group_kfold(df.filter(F.col("i") < 50), "conv_id", k=4).collect()
    for r in sub:
        assert {r["fold"]} == by_group[r["conv_id"]]

    rep = {r["fold"]: (r["n_rows"], r["n_groups"], r["n_leaky"], r["share_x1e6"])
           for r in kfold_report(df, "conv_id", k=4).collect()}
    assert sum(v[0] for v in rep.values()) == 200
    assert sum(v[1] for v in rep.values()) == 20
    assert all(v[2] == 0 for v in rep.values())
    assert all(v[3] == v[0] * 1000000 // 200 for v in rep.values())


def test_feature_propagation_matches_model(spark):
    """Two smoothing rounds on a hand graph vs a Python replica of the
    exact self-inclusive integer-mean recurrence; isolated nodes keep
    their vector; assemble=True returns dim-ordered arrays."""
    from chronographer_spark.operators.graph_algos import feature_propagation

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "b")], "src string, dst string"
    )
    feats = spark.createDataFrame(
        [("a", [100, 0]), ("b", [0, 100]), ("c", [50, 50]), ("z", [7, 7])],
        "node string, vec array<long>",
    )
    got = {
        (r["node"], r["dim"]): r["val"]
        for r in feature_propagation(edges, feats, rounds=2).collect()
    }

    def tdiv(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    vecs = {"a": [100, 0], "b": [0, 100], "c": [50, 50], "z": [7, 7]}
    inn = {"b": ["a", "c"], "c": ["b"]}
    for _ in range(2):
        vecs = {
            n: [
                tdiv(v[i] + sum(vecs[u][i] for u in inn.get(n, [])),
                     1 + len(inn.get(n, [])))
                if n in inn else v[i]
                for i in range(2)
            ]
            for n, v in vecs.items()
        }
    exp = {(n, i): v[i] for n, v in vecs.items() for i in range(2)}
    assert got == exp
    assert got[("z", 0)] == 7  # isolate untouched

    asm = {
        r["node"]: r["vec"]
        for r in feature_propagation(edges, feats, rounds=2, assemble=True).collect()
    }
    assert asm == {n: [vecs[n][0], vecs[n][1]] for n in vecs}


def test_induce_domain_range_hand_kg(spark):
    """Hand KG: multi-typed subjects count once per type, ties pin to the
    largest (count, type), untyped objects read NULL/0."""
    from chronographer_spark.graph.constraints import induce_domain_range

    triples = spark.createDataFrame(
        [
            ("c1", "in", "n1"), ("c2", "in", "n1"), ("s1", "in", "n2"),
            ("n1", "part_of", "r1"), ("n2", "part_of", "rX"),  # rX untyped
            ("c1", "likes", "c2"),
        ],
        "s string, p string, o string",
    )
    types = spark.createDataFrame(
        [
            ("c1", "Customer"), ("c2", "Customer"), ("s1", "Supplier"),
            ("c1", "Party"),  # multi-typed
            ("n1", "Nation"), ("n2", "Nation"), ("r1", "Region"),
        ],
        "node string, type string",
    )
    got = {
        r["p"]: (
            r["n_triples"], r["domain_type"], r["domain_share_x1e6"],
            r["range_type"], r["range_share_x1e6"],
        )
        for r in induce_domain_range(triples, types).collect()
    }
    # "in": subjects c1(Customer+Party), c2(Customer), s1(Supplier)
    #   -> typed obs 4: Customer 2, Party 1, Supplier 1 -> top Customer 2/4
    assert got["in"] == (3, "Customer", 500000, "Nation", 1000000)
    # "part_of": range has ONE typed object (r1); rX absent from quotient
    assert got["part_of"] == (2, "Nation", 1000000, "Region", 1000000)
    # "likes": domain ties Customer 1 / Party 1 -> pin picks the larger
    # type string (Party); share 1/2 of the typed observations
    assert got["likes"] == (1, "Party", 500000, "Customer", 1000000)


def test_validate_constraints_hand_kg(spark):
    """All four rule kinds on a hand KG with known violators; clean rules
    read NULL example and 0 violations; the example is the MINIMUM
    violator."""
    from chronographer_spark.graph.constraints import validate_constraints

    triples = spark.createDataFrame(
        [
            ("c1", "in", "n1"), ("c2", "in", "n1"), ("x9", "in", "n2"),
            ("c1", "owns", "o1"), ("c1", "owns", "o2"), ("c2", "owns", "o3"),
        ],
        "s string, p string, o string",
    )
    types = spark.createDataFrame(
        [
            ("c1", "Customer"), ("c2", "Customer"),
            ("n1", "Nation"), ("n2", "Nation"),
            ("c1", "Robot"),  # violates human/robot disjointness
            ("c1", "Human"), ("c2", "Human"),
        ],
        "node string, type string",
    )
    rules = [
        ("dom_in", "domain", "in", "Customer"),     # x9 untyped -> 1 viol
        ("rng_in", "range", "in", "Nation"),        # clean
        ("one_owner", "max_card", "owns", "1"),     # c1 owns 2 -> 1 viol
        ("hr", "disjoint", "Human", "Robot"),       # c1 both -> 1 viol
    ]
    got = {
        r["rule"]: (
            r["kind"], r["n_checked"], r["n_violations"], r["viol_x1e6"],
            r["example_node"],
        )
        for r in validate_constraints(triples, types, rules).collect()
    }
    assert got["dom_in"] == ("domain", 3, 1, 333333, "x9")
    assert got["rng_in"] == ("range", 3, 0, 0, None)
    assert got["one_owner"] == ("max_card", 2, 1, 500000, "c1")
    # nodes carrying Human or Robot: c1, c2 -> checked 2, c1 violates
    assert got["hr"] == ("disjoint", 2, 1, 500000, "c1")


def test_entry_queries_no_shadowed_definitions():
    """A later module-level def/const silently shadows an earlier one —
    a duplicated ORACLE *_SQL name once repointed a different query's
    oracle (caught in-session, round 4). entry_queries is now a package
    (round 5): scan EVERY family module for intra-module duplicates
    (defs AND assign targets), and require cross-module disjointness of
    registry keys (the aggregator also enforces this at import time)."""
    import ast
    import pathlib
    from collections import Counter

    import chronographer_spark.entry_queries as eq

    pkg = pathlib.Path(eq.__file__).parent
    bad = {}
    for py in sorted(pkg.glob("*.py")):
        tree = ast.parse(py.read_text())
        names = []
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                names.append(node.name)
            elif isinstance(node, ast.Assign):
                for t in node.targets:
                    if isinstance(t, ast.Name):
                        names.append(t.id)
        dupes = [n for n, c in Counter(names).items() if c > 1]
        if dupes:
            bad[py.name] = dupes
    assert not bad, f"shadowed module-level definitions: {bad}"


def test_entry_queries_registry_keys_pinned():
    """Registry identity across the round-5 package split: the exact key
    set is pinned to tests/data/registry_keys.txt. Adding a query means
    adding its key to the pin file in the same commit; a silently lost or
    renamed key fails here even if every surviving query stays green."""
    import pathlib

    import chronographer_spark.entry_queries as eq

    pin = pathlib.Path(__file__).parent / "data" / "registry_keys.txt"
    want = set(pin.read_text().split())
    got = set(eq.QUERIES)
    assert got == want, (
        f"missing={sorted(want - got)} unexpected={sorted(got - want)}"
    )
    # every query with an oracle uses a key from the same set; the
    # aggregator guarantees no cross-module collisions at import time
    assert set(eq.ORACLE_SQL) <= got
    assert len(eq.ORACLE_SQL) == len(got)  # full oracle coverage


def test_pool_vectors_matches_model(spark):
    """Exact integer mean per dimension (truncated, negatives included),
    dim-ordered reassembly, NULL vectors excluded."""
    from chronographer_spark.operators.similarity import pool_vectors

    rows = [
        ("a", [1.0, -0.5]), ("a", [0.5, 0.5]), ("a", [0.0, 0.26]),
        ("b", [2.0, 2.0]),
        ("b", None),
    ]
    df = spark.createDataFrame(rows, "src string, embedding array<double>")
    got = {
        r["key"]: (r["n_vectors"], r["vec"])
        for r in pool_vectors(df, "src", scale=100).collect()
    }

    def tdiv(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    import math
    a_q = [[int(math.floor(x * 100 + 0.5)) for x in v]
           for v in ([1.0, -0.5], [0.5, 0.5], [0.0, 0.26])]
    a_mean = [tdiv(sum(col), 3) for col in zip(*a_q)]
    assert got["a"] == (3, a_mean)
    assert got["b"] == (1, [200, 200])
    assert a_mean == [50, 8]  # (100+50+0)/3=50; (-50+50+26)/3=8


def test_distribution_drift_matches_model(spark):
    """Exact TVD and per-category deltas vs a Python replica; categories
    absent from one side count as zero; tvd repeats identically on every
    row."""
    from chronographer_spark.operators.text import distribution_drift

    a = [("x",)] * 6 + [("y",)] * 3 + [("z",)] * 1
    b = [("x",)] * 2 + [("y",)] * 6 + [("w",)] * 2
    dfa = spark.createDataFrame(a, "cat string")
    dfb = spark.createDataFrame(b, "cat string")
    got = {
        r["cat"]: (r["n_a"], r["n_b"], r["share_a_x1e6"], r["share_b_x1e6"],
                   r["delta_x1e6"], r["tvd_x1e6"])
        for r in distribution_drift(dfa, dfb, "cat").collect()
    }
    na, nb = 10, 10
    counts = {"x": (6, 2), "y": (3, 6), "z": (1, 0), "w": (0, 2)}
    dsum = sum(abs(ca * nb - cb * na) for ca, cb in counts.values())
    tvd = dsum * 1000000 // (2 * na * nb)
    exp = {
        c: (ca, cb, ca * 1000000 // na, cb * 1000000 // nb,
            abs(ca * nb - cb * na) * 1000000 // (na * nb), tvd)
        for c, (ca, cb) in counts.items()
    }
    assert got == exp
    assert tvd == 500000  # |.6-.2|+|.3-.6|+|.1-0|+|0-.2| = 1.0 -> /2


def test_cross_correlation_matches_model(spark):
    """Identical sawtooths read r² near +1e6, mirrored ones near −1e6,
    and everything matches the staged-quotient Python replica exactly."""
    import datetime as dt

    from chronographer_spark.operators.temporal import cross_correlation

    base = dt.datetime(2024, 6, 1)
    series = {
        "s1": [2, 8, 2, 8, 2, 8],
        "s2": [4, 16, 4, 16, 4, 16],   # same shape, different scale
        "anti": [8, 2, 8, 2, 8, 2],    # mirrored
        "flat": [5, 5, 5, 5, 5, 5],
    }
    rows = [
        (k, base + dt.timedelta(days=d, minutes=i))
        for k, ns in series.items()
        for d, n in enumerate(ns)
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    got = {
        (r["key_a"], r["key_b"]): (r["n_joint"], r["num"], r["r2_x1e6"])
        for r in cross_correlation(df).collect()
    }

    def tdiv(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    dev = {}
    for k, ns in series.items():
        t, bn = sum(ns), len(ns)
        dev[k] = [
            max(-1000000, min(1000000,
                tdiv(a, t) * 1000 + tdiv((a - tdiv(a, t) * t) * 1000, t)))
            for n in ns
            for a in [n * bn - t]
        ]
    exp = {}
    keys = sorted(series)
    for i, ka in enumerate(keys):
        for kb in keys[i + 1:]:
            da, db = dev[ka], dev[kb]
            num = sum(x * y for x, y in zip(da, db))
            d2a, d2b = sum(x * x for x in da), sum(y * y for y in db)
            if d2a == 0 or d2b == 0:
                r2 = 0
            else:
                sgn = -1 if num < 0 else 1
                r2 = sgn * (abs(num) * 1000 // d2a) * (abs(num) * 1000 // d2b)
            exp[(ka, kb)] = (6, num, r2)
    assert got == exp
    assert got[("s1", "s2")][2] > 990000
    assert got[("anti", "s1")][2] < -990000
    assert got[("flat", "s1")][2] == 0


def test_morton_key_interleave_and_locality(spark):
    """Bit-exact interleave vs a Python replica, clamping at both ends,
    and the locality property the layout exists for: sorting by zkey
    keeps each quartile of the key space inside one quadrant of the
    (x, y) plane."""
    from chronographer_spark.operators.sampling import morton_key

    rows = [(x, y) for x in range(0, 16) for y in range(0, 16)]
    rows += [(-5, 3), (70000, 2)]  # clamp below / above at bits=16
    df = spark.createDataFrame(rows, "x long, y long")
    got = {(r["x"], r["y"]): r["zkey"]
           for r in morton_key(df, "x", "y", bits=16).collect()}

    def interleave(x, y, bits=16):
        x = min((1 << bits) - 1, max(0, x))
        y = min((1 << bits) - 1, max(0, y))
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    assert got == {(x, y): interleave(x, y) for x, y in rows}
    # locality: the first 64 keys of the 16x16 grid = the (x<8, y<8) quadrant
    grid = sorted((z, x, y) for (x, y), z in got.items()
                  if 0 <= x < 16 and 0 <= y < 16)
    first_quarter = grid[:64]
    assert all(x < 8 and y < 8 for _, x, y in first_quarter)


def test_label_noise_report_planted_outlier(spark):
    """Two tight clusters; one point carries the WRONG cluster's label and
    must be flagged; correctly-labeled points must not be."""
    from chronographer_spark.operators.similarity import label_noise_report

    a = [1.0, 0.0, 0.0, 0.0]
    b = [0.0, 1.0, 0.0, 0.0]

    def jitter(v, i):
        return [x + (0.01 * ((i % 3) + 1) if x > 0 else 0.002 * i) for x in v]

    rows = [(i, jitter(a, i), 0) for i in range(6)]            # cluster A, label 0
    rows += [(10 + i, jitter(b, i), 1) for i in range(6)]       # cluster B, label 1
    rows += [(99, jitter(a, 7), 1)]                              # A-point mislabeled 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    got = {
        r["label"]: (r["n"], r["n_flagged"], r["noise_x1e6"])
        for r in label_noise_report(df, k=5, min_votes=3).collect()
    }
    # label 1 has 7 rows, exactly the planted outlier flagged
    assert got[1] == (7, 1, 1000000 // 7)
    assert got[0] == (6, 0, 0)


def test_survival_table_hand_lifespans(spark):
    """Hand lifespans vs manual at-risk/ending accounting; the final
    bucket's endings are marked censored; mid-lifespan silence does not
    produce rows."""
    import datetime as dt

    from chronographer_spark.operators.temporal import survival_table

    d = lambda day: dt.datetime(2024, 1, 1 + day, 9)  # noqa: E731
    spans = {"u1": (0, 4), "u2": (0, 2), "u3": (1, 4), "u4": (2, 2)}
    rows = [(u, d(a)) for u, (a, _) in spans.items()]
    rows += [(u, d(b)) for u, (_, b) in spans.items()]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    got = {
        r["bucket_ts"].day - 1: (
            r["n_starting"], r["n_ending"], r["n_at_risk"], r["censored"],
            r["hazard_x1e6"],
        )
        for r in survival_table(df).collect()
    }
    # day0: u1,u2 start, at risk 2; day1: u3 starts (no row for day with
    # no start/end would be day3); day2: u4 starts AND ends, u2 ends ->
    # at risk u1,u2,u3,u4 = 4, ending 2; day4: u1,u3 end (censored: last
    # bucket)
    assert got == {
        0: (2, 0, 2, 0, 0),
        1: (1, 0, 3, 0, 0),
        2: (1, 2, 4, 0, 500000),
        4: (0, 2, 2, 2, 1000000),
    }
    assert 3 not in got


def test_pagerank_weighted_hand_values(spark):
    """Weighted flow: a node receiving 90% of its source's out-weight gets
    90% of the endorsement; weight_col=None stays bit-identical to the
    uniform split."""
    from chronographer_spark.operators.graph_algos import pagerank

    edges = spark.createDataFrame(
        [("a", "b", 9), ("a", "c", 1)], "src string, dst string, w int"
    )
    r = {x["node"]: x["rank"] for x in
         pagerank(edges, iterations=1, weight_col="w").collect()}
    # one round: b = 0.15 + 0.85·(1·0.9); c = 0.15 + 0.85·(1·0.1)
    assert abs(r["b"] - (0.15 + 0.85 * 0.9)) < 1e-12
    assert abs(r["c"] - (0.15 + 0.85 * 0.1)) < 1e-12

    uni_w = spark.createDataFrame(
        [("a", "b", 1), ("a", "c", 1)], "src string, dst string, w int"
    )
    with_w = {x["node"]: x["rank"] for x in
              pagerank(uni_w, iterations=2, weight_col="w").collect()}
    without = {x["node"]: x["rank"] for x in
               pagerank(uni_w.drop("w").withColumn("w", F.lit(1)), iterations=2).collect()}
    assert with_w == without


def test_calibration_table_hand_values(spark):
    """Banding, exact rates, and exact mean scores on a hand scorer."""
    from chronographer_spark.operators.classifier import calibration_table

    rows = [
        (50000, 0), (80000, 0), (120000, 1), (150000, 0),
        (950000, 1), (990000, 1), (910000, 0),
    ]
    df = spark.createDataFrame(rows, "score_x1e6 long, y int")
    got = {
        r["band"]: (r["n"], r["n_pos"], r["pos_rate_x1e6"], r["mean_score_x1e6"])
        for r in calibration_table(df, "y").collect()
    }
    assert got == {
        0: (2, 0, 0, 65000),
        1: (2, 1, 500000, 135000),
        9: (3, 2, 666666, (950000 + 990000 + 910000) // 3),
    }


def test_rank_movers_hand_values(spark):
    """Pinned ranks, signed deltas, and new/vanished statuses."""
    from chronographer_spark.operators.ranking import rank_movers

    a = [("x",)] * 5 + [("y",)] * 3 + [("z",)] * 1
    b = [("x",)] * 2 + [("y",)] * 6 + [("w",)] * 4
    got = {
        r["key"]: (r["rank_a"], r["rank_b"], r["rank_delta"], r["status"])
        for r in rank_movers(
            spark.createDataFrame(a, "k string"),
            spark.createDataFrame(b, "k string"), "k",
        ).collect()
    }
    assert got == {
        "x": (1, 3, -2, "moved"),
        "y": (2, 1, 1, "moved"),
        "z": (3, None, None, "vanished"),
        "w": (None, 2, None, "new"),
    }


def test_operator_input_guards(spark):
    """Empty rule sets and malformed asof dates fail loudly, not deep in
    a Spark plan."""
    import pytest as _pytest

    from chronographer_spark.graph.constraints import validate_constraints
    from chronographer_spark.operators.temporal import decayed_activity

    t = spark.createDataFrame([("a", "p", "b")], "s string, p string, o string")
    ty = spark.createDataFrame([("a", "T")], "node string, type string")
    with _pytest.raises(ValueError, match="non-empty"):
        validate_constraints(t, ty, [])
    ev = spark.createDataFrame([("u", "2024-01-01")], "user_id string, d string")
    with _pytest.raises(ValueError):
        decayed_activity(ev.select("user_id", F.col("d").alias("ts")),
                         asof="2024-01-31'; DROP TABLE x")


def test_robust_outlier_report_hand_values(spark):
    """Median/MAD vs hand computation: the planted spike is the ONLY
    outlier and does not drag the screen (robustness); a symmetric clean
    key reports zero."""
    from chronographer_spark.operators.temporal import robust_outlier_report

    rows = [("k", v) for v in [1.0, 1.1, 0.9, 1.05, 0.95, 1.0, 50.0]]
    rows += [("clean", v) for v in [2.0, 2.1, 1.9, 2.0]]
    df = spark.createDataFrame(rows, "event_type string, value double")
    got = {
        r["event_type"]: (r["n"], r["med2"], r["mad2"], r["n_outliers"])
        for r in robust_outlier_report(df, scale=100, k_mad=3).collect()
    }
    # k: values x100 = [100,110,90,105,95,100,5000]; median 100 -> med2 200
    # d = |2v-200| = [0,20,20,10,10,0,9800]; median d = 10 -> mad2 20
    # outlier: 2d > 3*20=60 -> only 9800
    assert got["k"] == (7, 200, 20, 1)
    # clean: [200,210,190,200] median (200+200)/2=200 -> med2 400
    # d = [0,20,20,0] -> median 10 -> mad2 20; 2d>60 none
    assert got["clean"] == (4, 400, 20, 0)


def test_script_profile_hand_fixture(spark):
    """Codepoint-range classification on a mixed fixture: counts per
    class, the confusable mixed-doc flag, and empty-text exclusion."""
    from chronographer_spark.operators.text import script_profile

    rows = [
        ("s1", "abc 12"),             # 3 latin, 2 digit, 1 space
        ("s1", "pay pаl"),        # latin + Cyrillic a -> mixed
        ("s2", "中文 ok"),     # 2 cjk + latin -> mixed
        ("s2", ""),                     # excluded
        ("s2", "!!"),                   # other only
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    got = {
        r["source"]: (
            r["n_docs"], r["n_chars"], r["n_latin"], r["n_digit"],
            r["n_space"], r["n_cyrillic"], r["n_cjk"], r["n_other"],
            r["mixed_docs"],
        )
        for r in script_profile(df).collect()
    }
    # s1: "abc 12" (6 chars) + "pay pаl" (7 chars: 5 latin, 1 space, 1 cyr)
    assert got["s1"] == (2, 13, 8, 2, 2, 1, 0, 0, 1)
    # s2: "中文 ok" (5 chars: 2 cjk, 1 space, 2 latin) + "!!" (2 other)
    assert got["s2"] == (2, 7, 2, 0, 1, 0, 2, 2, 1)


def test_hard_negatives_planted_clusters(spark):
    """Anchors in cluster A mine the mislabeled A-point (nearest
    cross-label vector) as their #1 hard negative; same-label neighbors
    never appear."""
    from chronographer_spark.operators.similarity import hard_negatives

    a = [1.0, 0.0, 0.0, 0.0]
    b = [0.0, 1.0, 0.0, 0.0]

    def jit(v, i):
        return [x + (0.01 * (i + 1) if x > 0 else 0.001 * i) for x in v]

    rows = [(i, jit(a, i), 0) for i in range(4)]
    rows += [(10 + i, jit(b, i), 1) for i in range(4)]
    rows += [(99, jit(a, 5), 1)]  # an A-shaped vector labeled 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    got = hard_negatives(df, k=2, candidates=8).collect()
    by_anchor = {}
    for r in got:
        by_anchor.setdefault(r["anchor_id"], []).append((r["neg_rank"], r["neg_id"]))
    # every A anchor's top hard negative is 99 (the A-shaped label-1 row)
    for aid in range(4):
        assert sorted(by_anchor[aid])[0] == (1, 99)
    # labels always differ from the anchor's
    lab = {r[0]: r[2] for r in rows}
    for r in got:
        assert lab[r["anchor_id"]] != lab[r["neg_id"]]


def test_bow_dup_groups_reorder_invariance(spark):
    """Token reorderings group together (multiset semantics: duplicate
    tokens distinguish), case/whitespace normalize, singletons drop."""
    from chronographer_spark.operators.dedup import bow_dup_groups

    rows = [
        (1, "the cat sat"),
        (2, "sat  THE cat"),       # reorder + case + whitespace -> dup of 1
        (3, "cat sat"),             # different multiset
        (4, "the the cat sat"),     # extra 'the' -> different multiset
        (5, "cat the sat the"),     # same multiset as 4
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["rep_id"]: r["group_size"] for r in bow_dup_groups(df).collect()}
    assert got == {1: 2, 4: 2}


def test_transcript_conformance_hand_fixture(spark):
    """Planted violations of all four kinds are counted exactly; a clean
    conversation contributes nothing."""
    import datetime as dt

    from chronographer_spark.operators.dialogue import transcript_conformance

    t0 = dt.datetime(2024, 1, 1, 9)
    m = lambda k: t0 + dt.timedelta(minutes=k)  # noqa: E731
    rows = [
        # clean conv
        ("c1", 0, "user", "hi", "", m(0)),
        ("c1", 1, "assistant", "hello", "", m(1)),
        # violations: role repeat at idx1, ts inversion at idx2,
        # empty text at idx2, idx gap 2->4
        ("c2", 0, "user", "a", "", m(0)),
        ("c2", 1, "user", "b", "", m(1)),
        ("c2", 2, "assistant", "  ", "", m(0)),   # ts goes back + empty
        ("c2", 4, "user", "d", "", m(3)),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp"
    )
    got = {
        r["check"]: (r["n_violations"], r["n_convs_affected"])
        for r in transcript_conformance(df).collect()
    }
    assert got == {
        "role_repeat": (1, 1),
        "ts_inversion": (1, 1),
        "empty_text": (1, 1),
        "idx_gap": (1, 1),
    }


def test_centroid_shift_hand_values(spark):
    """Identical snapshots read zero; a planted displacement reads its
    exact squared quantized magnitude."""
    from chronographer_spark.operators.similarity import centroid_shift

    a = spark.createDataFrame(
        [("k", [1.0, 0.0]), ("k", [3.0, 0.0])], "src string, embedding array<double>"
    )
    b_same = spark.createDataFrame(
        [("k", [2.0, 0.0])], "src string, embedding array<double>"
    )
    # centroid(a) = (2000, 0); centroid(b_same) = (2000, 0) -> 0
    r = centroid_shift(a, b_same, "src").collect()[0]
    assert (r["n_a"], r["n_b"], r["dim"], r["shift_sq"]) == (2, 1, 2, 0)

    b_moved = spark.createDataFrame(
        [("k", [2.0, 0.5])], "src string, embedding array<double>"
    )
    r2 = centroid_shift(a, b_moved, "src").collect()[0]
    assert r2["shift_sq"] == 500 * 500


def test_source_overlap_matrix_hand_fixture(spark):
    """Shared fingerprints count once per pair; the diagonal counts
    within-source duplicate fingerprints only."""
    from chronographer_spark.operators.dedup import source_overlap_matrix

    rows = [
        ("s1", "same text"), ("s2", "Same  TEXT"),   # cross-source dup
        ("s1", "only one"),
        ("s2", "twice here"), ("s2", "twice  here"), # within-s2 dup
        ("s3", "same text"),                           # s3 shares with s1, s2
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    got = {
        (r["source_a"], r["source_b"]): r["n_shared"]
        for r in source_overlap_matrix(df).collect()
    }
    assert got == {
        ("s1", "s2"): 1,
        ("s1", "s3"): 1,
        ("s2", "s3"): 1,
        ("s2", "s2"): 1,
    }


def test_blocking_quality_hand_values(spark):
    """RR and PC on hand pairs: orientation and duplicates in either
    input cannot double-count."""
    from chronographer_spark.linking.er_eval import blocking_quality

    cand = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 4), (5, 6)], "id_a long, id_b long"
    )  # 3 distinct unordered pairs
    gold = spark.createDataFrame(
        [(2, 1), (3, 4), (7, 8)], "id_a long, id_b long"
    )  # 3 gold; 2 covered
    r = blocking_quality(cand, gold, n_records=10).collect()[0]
    assert (r["n_candidates"], r["n_gold"], r["n_covered"], r["all_pairs"]) \
        == (3, 3, 2, 45)
    assert r["rr_x1e6"] == (45 - 3) * 1000000 // 45
    assert r["pc_x1e6"] == 2 * 1000000 // 3


def test_seasonal_profile_hand_values(spark):
    """The engine-neutral dow/hour arithmetic lands known timestamps in
    the right cells: 1970-01-01 is Thursday (dow 4), 2024-01-01 is Monday
    (dow 1); hours are UTC."""
    import datetime as dt

    from chronographer_spark.operators.temporal import seasonal_profile

    rows = [
        (dt.datetime(1970, 1, 1, 0, 30),),   # Thu 00h
        (dt.datetime(2024, 1, 1, 9, 5),),    # Mon 09h
        (dt.datetime(2024, 1, 1, 9, 55),),   # Mon 09h
        (dt.datetime(2024, 1, 7, 23, 1),),   # Sun 23h
    ]
    df = spark.createDataFrame(rows, "ts timestamp")
    got = {(r["dow"], r["hour"]): (r["n"], r["share_x1e6"])
           for r in seasonal_profile(df).collect()}
    assert got == {
        (4, 0): (1, 250000),
        (1, 9): (2, 500000),
        (0, 23): (1, 250000),
    }


def test_gap_histogram_hand_values(spark):
    """Gaps band by exact second thresholds; the first row per key has no
    gap; shares are per-key exact quotients."""
    import datetime as dt

    from chronographer_spark.operators.temporal import gap_histogram

    t0 = dt.datetime(2024, 2, 1)
    offs = [0, 30, 90, 4000, 90000]  # gaps: 30s, 60s, 3910s, 86000s
    rows = [("k", t0 + dt.timedelta(seconds=o), i) for i, o in enumerate(offs)]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, event_id int")
    got = {
        r["band"]: (r["n"], r["share_x1e6"])
        for r in gap_histogram(df, id_col="event_id").collect()
    }
    # 30 -> lt_1m; 60 -> lt_10m (not < 60); 3910 -> lt_6h; 86000 -> lt_1d
    assert got == {
        "lt_1m": (1, 250000),
        "lt_10m": (1, 250000),
        "lt_6h": (1, 250000),
        "lt_1d": (1, 250000),
    }


def test_degree_assortativity_star_and_cycle(spark):
    """Star K_{1,3}: every edge pairs deg 3 with deg 1 -> perfect
    anticorrelation, signed r2 = -1e6 exactly (deviations +-500 after the
    staged quotient). 4-cycle: all degrees equal -> zero variance -> 0."""
    from chronographer_spark.operators.graph_algos import degree_assortativity

    star = spark.createDataFrame(
        [("c", "a"), ("c", "b"), ("c", "d")], ["src", "dst"]
    )
    row = degree_assortativity(star).first()
    assert (row.m_edges, row.s_deg, row.r2_x1e6) == (6, 12, -1000000)
    assert row.sxx == row.syy == 1500000 and row.num == -1500000

    cyc = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")], ["src", "dst"]
    )
    assert degree_assortativity(cyc).first().r2_x1e6 == 0


def test_wl_colors_refines_structure_and_known_limit(spark):
    """Path a-b-c-d: round-2 colors split ends from middles (2 classes of
    2). Known 1-WL limit documented by construction: a 6-cycle and two
    disjoint triangles are both 2-regular with a single label, so every
    node converges to ONE shared color — WL cannot tell them apart."""
    from chronographer_spark.operators.graph_algos import wl_colors

    def classes(edge_list, rounds=2):
        edges = spark.createDataFrame(edge_list, ["src", "dst"])
        nodes = (
            edges.select(F.col("src").alias("node"))
            .unionByName(edges.select(F.col("dst").alias("node")))
            .distinct()
        )
        labels = nodes.select("node", F.lit("x").alias("label"))
        out = wl_colors(edges, labels, rounds=rounds).collect()
        by_color = {}
        for r in out:
            by_color.setdefault(r.color, set()).add(r.node)
        return {frozenset(v) for v in by_color.values()}

    path = classes([("a", "b"), ("b", "c"), ("c", "d")])
    assert path == {frozenset({"a", "d"}), frozenset({"b", "c"})}

    c6 = classes(
        [("1", "2"), ("2", "3"), ("3", "4"), ("4", "5"), ("5", "6"), ("6", "1")]
    )
    two_c3 = classes(
        [("1", "2"), ("2", "3"), ("3", "1"), ("4", "5"), ("5", "6"), ("6", "4")]
    )
    assert len(c6) == 1 and len(two_c3) == 1


def test_discover_uccs_minimality_and_nulls(spark):
    """(a) unique, (a,b) unique-but-dominated, (b) and (b,c) non-keys;
    NULLs render as 'NULL' so an all-NULL column is a (degenerate) dup
    class, not spuriously unique."""
    from chronographer_spark.graph.constraints import discover_uccs

    df = spark.createDataFrame(
        [(1, "x", None), (2, "x", None), (3, "y", None)],
        "a int, b string, c string",
    )
    out = {
        r.combo: (r.n_rows, r.n_distinct, r.max_group, r.is_unique,
                  r.is_minimal_unique)
        for r in discover_uccs(
            df,
            [("a", ["a"]), ("b", ["b"]), ("c", ["c"]),
             ("a,b", ["a", "b"]), ("b,c", ["b", "c"])],
        ).collect()
    }
    assert out["a"] == (3, 3, 1, 1, 1)
    assert out["a,b"] == (3, 3, 1, 1, 0)  # dominated by 'a'
    assert out["b"] == (3, 2, 2, 0, 0)
    assert out["c"] == (3, 1, 3, 0, 0)   # all-NULL: one class of 3
    assert out["b,c"] == (3, 2, 2, 0, 0)


def test_dp_geometric_release_replays_and_distributes(spark):
    """The released counts equal true count + hand-computed md5 noise
    (Python replay of the same draw); over 2048 keys the Geometric(1/2)
    draw has P(g=0) near 1/2 and the noise is centered (two-sided)."""
    import hashlib

    from chronographer_spark.operators.text import dp_geometric_release

    def tz_draw(seed, tag, key, j=1):
        h = int(hashlib.md5(f"{seed}#{tag}#{key}".encode()).hexdigest()[:15], 16)
        raw = 64 if h == 0 else (h & -h).bit_length() - 1
        return min(raw, 40) // j

    rows = [(f"k{i % 2048}",) for i in range(4096)]
    df = spark.createDataFrame(rows, "k string")
    out = {r.k: r.n_released for r in dp_geometric_release(df, "k", 1, "s").collect()}
    assert len(out) == 2048
    noises = []
    for k, rel in out.items():
        noise = tz_draw("s", "a", k) - tz_draw("s", "b", k)
        assert rel == 2 + noise, k
        noises.append(noise)
    zero_share = sum(1 for n in noises if n == 0) / len(noises)
    # P(G1 == G2) for Geometric(1/2) pair = sum 4^-k-ish ~ 0.333..; loose band
    assert 0.25 < zero_share < 0.45
    assert abs(sum(noises)) < 200  # centered


def test_soundex_expr_textbook_codes(spark):
    """Textbook vectors for the simplified variant: Robert/Rupert share
    R163; Tymczak T522, Pfister P236 (first-letter dedup across position
    1); Ashcraft A226 (H breaks the run — the documented simplification
    vs full Soundex's A261); non-alpha input -> ''."""
    from chronographer_spark.functions.scalars import soundex_expr

    df = spark.createDataFrame(
        [("Robert",), ("Rupert",), ("Tymczak",), ("Pfister",),
         ("Ashcraft",), ("123",), ("",)],
        "w string",
    )
    out = {r.w: r.sx for r in df.select("w", soundex_expr(F.col("w")).alias("sx")).collect()}
    assert out == {
        "Robert": "R163", "Rupert": "R163", "Tymczak": "T522",
        "Pfister": "P236", "Ashcraft": "A226", "123": "", "": "",
    }


def test_densest_subgraph_isolates_clique(spark):
    """K5 clique + 10 pendant leaves: round 0 density = 20/15, round 1
    peels every deg-1 leaf (threshold 2.2*20/15 = 2.93) and the K5 core
    survives with density 10/5 = 2.0 exactly — the max-density row."""
    from chronographer_spark.operators.graph_algos import densest_subgraph

    clique = [(f"k{i}", f"k{j}") for i in range(5) for j in range(i + 1, 5)]
    leaves = [(f"k{i % 5}", f"p{i}") for i in range(10)]
    out = {
        r.round: (r.n_nodes, r.n_edges, r.density_x1e6)
        for r in densest_subgraph(
            spark.createDataFrame(clique + leaves, ["src", "dst"]), rounds=2
        ).collect()
    }
    assert out[0] == (15, 20, 1333333)
    assert out[1] == (5, 10, 2000000)
    # K5 is 4-regular with density 2: threshold 2.2*2 = 4.4 > 4 peels it
    assert out[2] == (0, 0, 0)


def test_encoding_anomaly_report_detects_each_marker(spark):
    """Each corruption class fires on exactly its doc; the clean doc
    fires nothing; counts and shares are exact."""
    from chronographer_spark.operators.text import encoding_anomaly_report

    rows = [
        (0, "clean ascii text"),
        (1, "caf\u00c3\u00a9 double decoded"),
        (2, "it\u00e2\u0080\u0099s a smart quote"),
        (3, "nbsp\u00c2 here"),
        (4, "lost \ufffd char"),
        (5, "mid\u00ef\u00bb\u00bfbom"),
        (6, "nul\u0000byte"),
        (7, "clean again"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.anomaly: (r.n_docs, r.n_total, r.share_x1e6)
           for r in encoding_anomaly_report(df).collect()}
    assert out == {
        "mojibake_a_tilde": (1, 8, 125000),
        "mojibake_smartq": (1, 8, 125000),
        "mojibake_a_caret": (1, 8, 125000),
        "replacement_char": (1, 8, 125000),
        "bom_in_body": (1, 8, 125000),
        "nul_byte": (1, 8, 125000),
    }


def test_tool_cache_hits_separates_adjacent_and_distant(spark):
    """conv A: search(x) at 2, fetch(y) at 5, search(x) at 8 (distant
    repeat), search(x) at 11 (adjacent repeat: the previous TOOL TURN is
    identical). conv B: no repeats."""
    from chronographer_spark.operators.dialogue import tool_cache_hits

    rows = [
        ("A", 2, "search", "x"), ("A", 5, "fetch", "y"),
        ("A", 8, "search", "x"), ("A", 11, "search", "x"),
        ("B", 1, "search", "x"), ("B", 4, "fetch", "x"),
    ]
    tx = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, tool string, text string"
    )
    out = {
        r.conv_id: (r.n_tool_turns, r.n_repeats, r.n_adjacent_repeats,
                    r.hit_share_x1e6)
        for r in tool_cache_hits(tx).collect()
    }
    assert out["A"] == (4, 2, 1, 500000)
    assert out["B"] == (2, 0, 0, 0)


def test_cohens_kappa_textbook_and_edges(spark):
    """Textbook 2x2 (diag 45, N 60, pe_num 1830): kappa = 0.4915...;
    perfect agreement = 1e6; constant raters (pe = 1) = 0 by convention;
    systematic disagreement goes negative."""
    from chronographer_spark.operators.classifier import cohens_kappa

    def kappa(pairs):
        df = spark.createDataFrame(pairs, "a string, b string")
        return cohens_kappa(df, "a", "b").first()

    # classic example: 20 yes/yes, 15 no/no, 10 yes/no, 15 no/yes
    pairs = ([("y", "y")] * 20 + [("n", "n")] * 15
             + [("y", "n")] * 10 + [("n", "y")] * 15)
    r = kappa(pairs)
    # po = 35/60, pe = (30*35 + 30*25)/3600 = 1800/3600
    # kappa = (35*60 - 1800)/(3600 - 1800) = 300/1800 = 1/6
    assert (r.n, r.diag, r.pe_num) == (60, 35, 1800)
    assert r.kappa_x1e6 == 166666
    assert kappa([("y", "y")] * 3 + [("n", "n")] * 2).kappa_x1e6 == 1000000
    assert kappa([("y", "y"), ("y", "y")]).kappa_x1e6 == 0  # constant raters
    assert kappa([("y", "n"), ("n", "y")]).kappa_x1e6 == -1000000


def test_markov_next_tool_eval_model_and_unseen(spark):
    """Train: a->b twice, a->c once (argmax after 'a' is 'b'); b->a.
    Test: a->b (hit), a->c (miss), b->a (hit), z->a (unseen bucket)."""
    from chronographer_spark.operators.dialogue import markov_next_tool_eval

    def tx(rows):
        return spark.createDataFrame(
            rows, "conv_id string, turn_idx int, tool string"
        )

    train = tx([
        ("c1", 1, "a"), ("c1", 2, "b"), ("c1", 3, "a"), ("c1", 4, "c"),
        ("c2", 1, "a"), ("c2", 2, "b"), ("c2", 3, "b"), ("c2", 4, "a"),
    ])
    test = tx([
        ("t1", 1, "a"), ("t1", 2, "b"),      # a->b hit
        ("t2", 1, "a"), ("t2", 2, "c"),      # a->c miss
        ("t3", 1, "b"), ("t3", 2, "a"),      # b->a hit
        ("t4", 1, "z"), ("t4", 2, "a"),      # z unseen
    ])
    out = {
        r.tool_from: (r.n_test, r.n_correct, r.acc_x1e6)
        for r in markov_next_tool_eval(train, test).collect()
    }
    assert out["a"] == (2, 1, 500000)
    assert out["b"] == (1, 1, 1000000)
    assert out["(unseen)"] == (1, 0, 0)


def test_dispersion_index_poisson_like_vs_clumped(spark):
    """Uniform key (1 per day x 4 days): var = 0 -> D = 0. Clumped key
    (4,0-omitted,.. counts [4, 1, 1]): N=3, S=6, Q=18 ->
    D = (54 - 36)/(2*6) = 1.5. Constant-2 key: D = 0."""
    import datetime as dt

    from chronographer_spark.operators.temporal import dispersion_index

    def ts(day):
        return dt.datetime(2024, 1, day)

    rows = (
        [("u", ts(d)) for d in (1, 2, 3, 4)]
        + [("c", ts(1))] * 4 + [("c", ts(2)), ("c", ts(3))]
        + [("k", ts(1))] * 2 + [("k", ts(2))] * 2
    )
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    out = {
        r.event_type: (r.n_buckets, r.total, r.sum_sq, r.dispersion_x1e6)
        for r in dispersion_index(df).collect()
    }
    assert out["u"] == (4, 4, 4, 0)
    assert out["c"] == (3, 6, 18, 1500000)
    assert out["k"] == (2, 4, 8, 0)


def test_percolation_is_nested_and_monotone(spark):
    """Percolation invariants at sf0.001: rate-100 keeps every edge in
    one giant bipartite component; edge counts are NESTED (monotone
    non-increasing with rate, since the md5 draw is shared across
    rates); largest-share never increases as the rate drops."""
    import __spark_entry__ as entry_mod

    rows = sorted(
        entry_mod.queries()["percolation"](spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: -r.keep_rate,
    )
    assert [r.keep_rate for r in rows] == [100, 75, 50, 25]
    assert rows[0].n_components == 1
    assert rows[0].largest_share_x1e6 == 1000000
    edges = [r.n_edges for r in rows]
    assert edges == sorted(edges, reverse=True)
    shares = [r.largest_share_x1e6 for r in rows]
    assert shares == sorted(shares, reverse=True)
    assert all(r.n_nodes == rows[0].n_nodes for r in rows)  # fixed node set


def test_dict_encoding_advisor_exact_bytes(spark):
    """Column 'rep' ('aaaa' x3, 'bb' x1): plain 14, dict 6+16=22 ->
    negative savings at tiny n; column 'big' (one 40-char value x4):
    plain 160, dict 40+16=56, savings 65%. NULLs excluded from the
    dictionary and 0-byte plain."""
    from chronographer_spark.operators.text import dict_encoding_advisor

    rows = [("aaaa", "x" * 40), ("aaaa", "x" * 40), ("aaaa", "x" * 40),
            ("bb", "x" * 40), (None, None)]
    df = spark.createDataFrame(rows, "rep string, big string")
    out = {
        r.col: (r.n_rows, r.n_distinct, r.plain_bytes, r.dict_bytes,
                r.savings_x1e6)
        for r in dict_encoding_advisor(df, ["rep", "big"]).collect()
    }
    # rep: n=5 rows (NULL row included), distinct non-null 2,
    # plain 4*3+2 = 14, dict (4+2) + 5*4 = 26. DIV truncates toward zero
    # (CLAUDE.md sign caveat), so int(), not Python's floor //.
    assert out["rep"] == (5, 2, 14, 26, int((14 - 26) * 1000000 / 14))
    assert out["big"] == (5, 1, 160, 40 + 20, (160 - 60) * 1000000 // 160)


def test_temporal_motifs_window_and_order(spark):
    """u1 has a->b->c (span 2s, counted) then b->c->a (span too wide,
    dropped when the third event is 2 days later); ordering is by
    (ts, event_id) so same-ts ties are deterministic."""
    import datetime as dt

    from chronographer_spark.operators.sequence import temporal_motifs

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(i, typ, sec):
        return (i, 1, typ, t0 + dt.timedelta(seconds=sec))

    rows = [ev(1, "a", 0), ev(2, "b", 1), ev(3, "c", 2),
            ev(4, "a", 200000)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    out = {
        (r.t0, r.t1, r.t2): r.n
        for r in temporal_motifs(df, within_seconds=86400).collect()
    }
    # b->c->a spans 200000-1 s > 86400: dropped
    assert out == {("a", "b", "c"): 1}


def test_phash_dups_finds_every_one_bit_variant(spark):
    """Every (asset, +100000 variant) pair sits at Hamming 1 and must
    surface under the 4-block pigeonhole guarantee — exactly 200 pairs,
    all (i, i+100000, 1), nothing spurious at sf0.001."""
    import __spark_entry__ as entry_mod

    rows = entry_mod.queries()["phash_dups"](spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 200
    assert all(
        r.asset_b == r.asset_a + 100000 and r.hamming == 1 for r in rows
    )


def test_rich_club_clique_core(spark):
    """K4 clique wired to 4 pendant leaves (one per clique node): at k=1
    only clique nodes (deg 4) remain -> phi = 1.0; at k=0 everything
    (8 nodes, 10 edges) -> phi = 20/56."""
    from chronographer_spark.operators.graph_algos import rich_club

    clique = [(f"k{i}", f"k{j}") for i in range(4) for j in range(i + 1, 4)]
    leaves = [(f"k{i}", f"p{i}") for i in range(4)]
    out = {
        r.k: (r.n_nodes, r.n_edges, r.phi_x1e6)
        for r in rich_club(
            spark.createDataFrame(clique + leaves, ["src", "dst"]),
            thresholds=(0, 1),
        ).collect()
    }
    assert out[1] == (4, 6, 1000000)
    assert out[0] == (8, 10, 2 * 10 * 1000000 // (8 * 7))


def test_seasonal_anomaly_report_flags_spiked_cell(spark):
    """Five Mondays at hour 05: counts [2,2,2,2,10] -> med2=4, the 10
    deviates 16 doubled vs mad2=0, flagged; the steady cells are not.
    A different hour with uniform counts stays clean."""
    import datetime as dt

    from chronographer_spark.operators.temporal import seasonal_anomaly_report

    rows = []
    mondays = [dt.datetime(2024, 1, d, 5, 30) for d in (1, 8, 15, 22, 29)]
    for i, m in enumerate(mondays):
        reps = 10 if i == 4 else 2
        rows += [("a", m)] * reps
        rows += [("a", m.replace(hour=9))] * 3  # clean cell
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    out = {
        (r.event_type, r.dow, r.hour): (r.n_obs, r.med2, r.mad2, r.n_anom)
        for r in seasonal_anomaly_report(df).collect()
    }
    assert out[("a", 1, 5)] == (5, 4, 0, 1)   # 2024-01-01 was a Monday
    assert out[("a", 1, 9)] == (5, 6, 0, 0)


def test_persistent_topk_separates_spike_from_power_user(spark):
    """'power' tops 3 days, 'spike' tops one day with a huge count,
    'steady-low' never makes top-1: k=1, min_days=2 keeps only power."""
    import datetime as dt

    from chronographer_spark.operators.ranking import persistent_topk

    def day(d):
        return dt.datetime(2024, 1, d, 10)

    rows = (
        [("power", day(1))] * 3 + [("power", day(2))] * 3
        + [("power", day(3))] * 3
        + [("spike", day(2))] * 50
        + [("low", day(1))] * 1
    )
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    out = {
        r.user_id: (r.days_in_topk, r.best_rank, r.total_in_topk)
        for r in persistent_topk(df, "user_id", "ts", k=1, min_days=2).collect()
    }
    # spike wins day 2; power wins days 1 and 3 only
    assert out == {"power": (2, 1, 6)}


def test_pass_at_k_matches_exact_combinatorics(spark):
    """Staged product vs exact C(n-c,k)/C(n,k) within k ppm; boundary
    semantics: c=0 -> 0, n-c<k -> 1e6."""
    from math import comb

    from chronographer_spark.operators.classifier import pass_at_k

    cases = {"t1": (10, 2), "t2": (10, 0), "t3": (10, 7), "t4": (6, 1),
             "t5": (3, 1)}
    rows = []
    for t, (n, c) in cases.items():
        rows += [(t, True)] * c + [(t, False)] * (n - c)
    df = spark.createDataFrame(rows, "task string, ok boolean")
    out = {r.task: r for r in pass_at_k(df, "task", "ok", k=5).collect()}
    for t, (n, c) in cases.items():
        r = out[t]
        assert (r.n_attempts, r.n_correct) == (n, c)
        assert r.pass1_x1e6 == c * 1000000 // n
        if c == 0:
            assert r.passk_x1e6 == 0
        elif n - c < 5:
            assert r.passk_x1e6 == 1000000
        else:
            exact = 1000000 - comb(n - c, 5) * 1000000 // comb(n, 5)
            assert abs(r.passk_x1e6 - exact) <= 5, (t, r.passk_x1e6, exact)


def test_landmark_stress_path_and_star(spark):
    """Path a-b-c from landmark a: sigma all 1; chi(b)=1 (endpoint c
    beyond it), chi(a)=2; stress(b) = 1 — the one a->c path runs through
    b. Star center from two leaf landmarks: each landmark's BFS puts the
    center at dist 1 with chi = #other leaves; stress(center) = 2*(k-1)
    for k=3 leaves -> 4."""
    from chronographer_spark.operators.graph_algos import landmark_stress

    path = spark.createDataFrame([("a", "b"), ("b", "c")], ["src", "dst"])
    lm = spark.createDataFrame([("a",)], ["node"])
    out = {r.node: (r.dist, r.sigma, r.chi, r.stress)
           for r in landmark_stress(path, lm, rounds=2).collect()}
    assert out["a"] == (0, 1, 2, 2)
    assert out["b"] == (1, 1, 1, 1)
    assert out["c"] == (2, 1, 0, 0)

    star = spark.createDataFrame(
        [("hub", "l1"), ("hub", "l2"), ("hub", "l3")], ["src", "dst"]
    )
    lms = spark.createDataFrame([("l1",), ("l2",)], ["node"])
    out = {r.node: (r.dist, r.sigma, r.chi, r.stress)
           for r in landmark_stress(star, lms, rounds=2).collect()}
    # per landmark: hub at dist 1 (sigma 1, chi = 2 other leaves)
    assert out["hub"] == (1, 2, 4, 4)
    # l1 seen from l2's BFS at dist 2 (chi 0) and as its own landmark
    assert out["l1"][3] == out["l1"][1] * 0 + 3  # own-landmark chi=3 paths


def test_theilsen_trend_exact_slopes(spark):
    """Perfect ramp 1,2,3,4 per day -> every pairwise slope is exactly
    1e6, slope2 = 2e6; a flat key reads 0; an outlier day in an
    otherwise-flat series leaves the median slope at 0 (robustness)."""
    import datetime as dt

    from chronographer_spark.operators.temporal import theilsen_trend

    rows = []
    for d in range(4):
        ts = dt.datetime(2024, 1, 1 + d, 8)
        rows += [("ramp", ts)] * (d + 1)
        rows += [("flat", ts)] * 3
        rows += [("spiky", ts)] * (20 if d == 2 else 2)
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    out = {
        r.event_type: (r.n_buckets, r.n_pairs, r.slope2_x1e6)
        for r in theilsen_trend(df).collect()
    }
    assert out["ramp"] == (4, 6, 2000000)
    assert out["flat"] == (4, 6, 0)
    # spiky: slopes {+18/1,+18/2,-18/1,-18/2,0,0} -> median 0
    assert out["spiky"][2] == 0


def test_funnel_report_conversions_and_medians(spark):
    """3 signups; 2 reach click (conv 666666); 1 reaches purchase
    (conv 500000); medians-from-anchor are exact doubled integers."""
    import datetime as dt

    from chronographer_spark.operators.sequence import funnel_report

    t0 = dt.datetime(2024, 1, 1, 12)

    def ev(i, u, typ, sec):
        return (i, u, typ, t0 + dt.timedelta(seconds=sec))

    rows = [
        ev(1, 1, "signup", 0), ev(2, 1, "click", 10), ev(3, 1, "purchase", 30),
        ev(4, 2, "signup", 0), ev(5, 2, "click", 20),
        ev(6, 3, "signup", 0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    out = {
        r.step_idx: (r.step, r.n_matched, r.conv_from_prev_x1e6,
                     r.med2_from_anchor_s)
        for r in funnel_report(
            df, ["signup", "click", "purchase"], within_seconds=3600
        ).collect()
    }
    assert out[0] == ("signup", 3, 1000000, 0)
    assert out[1] == ("click", 2, 666666, 30)   # median(10, 20) = 15 -> 30
    assert out[2] == ("purchase", 1, 500000, 60)


def test_bowley_skew_hand_values(spark):
    """Symmetric 1..5 -> 0; right tail [1,1,2,3,10] ->
    quartiles q1=1, q2=2, q3=3 -> (3+1-4)/(3-1) = 0; stronger tail
    [1,2,3,4,100]: q1=2 q2=3 q3=4 -> 0 as well — so use [0,0,1,4,4,9]:
    q1_4 = interpolated; verified against Python quartiles."""
    from chronographer_spark.operators.temporal import bowley_skew

    def quart4(xs, p):
        n = len(xs)
        pos = (n - 1) * p
        lo = int(pos)
        frac = pos - lo
        s = sorted(xs)
        return round((s[lo] + frac * (s[min(lo + 1, n - 1)] - s[lo])) * 4)

    data = {"sym": [1, 2, 3, 4, 5], "tail": [0, 0, 1, 4, 4, 9]}
    rows = [(k, float(v)) for k, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, "event_type string, value double")
    out = {r.event_type: r for r in bowley_skew(df, scale=1).collect()}
    assert out["sym"].bowley_x1e6 == 0
    q1, q2, q3 = (quart4(data["tail"], p) for p in (0.25, 0.5, 0.75))
    assert (out["tail"].q1_4, out["tail"].q2_4, out["tail"].q3_4) == (q1, q2, q3)
    num = q3 + q1 - 2 * q2
    exp = (1 if num >= 0 else -1) * (abs(num) * 1000000 // (q3 - q1))
    assert out["tail"].bowley_x1e6 == exp


def test_winsorized_mean_hand_values(spark):
    """[1,2,3,4,100]: Q1=2, Q3=4 -> clamped x4 [8,8,12,16,16], sum4=60,
    n=5 -> wmean 3.0 (plain mean 22 — robust center ignores the 100).
    Interpolated quartiles [0,1,10,100]: Q1*4=3 (0.75), Q3*4=130 (32.5)
    -> clamped [3,4,40,130] sum4=177 -> 177e6 DIV 16."""
    from chronographer_spark.operators.temporal import winsorized_mean

    data = {"spike": [1, 2, 3, 4, 100], "interp": [0, 1, 10, 100]}
    rows = [(k, float(v)) for k, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, "event_type string, value double")
    out = {r.event_type: r for r in winsorized_mean(df, scale=1).collect()}
    assert (out["spike"].lo4, out["spike"].hi4) == (8, 16)
    assert out["spike"].sum4 == 60
    assert out["spike"].wmean_x1e6 == 3_000_000
    assert (out["interp"].lo4, out["interp"].hi4) == (3, 130)
    assert out["interp"].sum4 == 177
    assert out["interp"].wmean_x1e6 == 177 * 1_000_000 // 16


def test_boruvka_mst_matches_kruskal(spark):
    """Boruvka over random multi-component graphs with unique weights ==
    driver-side Kruskal (unique weights make the MST unique, so any two
    correct algorithms agree on the exact edge set)."""
    import random

    from chronographer_spark.operators.graph_algos import boruvka_mst

    def kruskal(es, nodes):
        parent = {n: n for n in nodes}

        def find(a):
            while parent[a] != a:
                parent[a] = parent[parent[a]]
                a = parent[a]
            return a

        out = []
        for u, v, w in sorted(es, key=lambda e: e[2]):
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[ru] = rv
                out.append((u, v, w))
        return sorted(out)

    rng = random.Random(7)
    for trial in range(3):
        n = 30 + trial * 10
        nodes = [f"n{i:02d}" for i in range(n)]
        pairs = set()
        while len(pairs) < n * 2:
            a, b = rng.sample(range(n), 2)
            pairs.add((min(a, b), max(a, b)))
        edges = [
            (nodes[a], nodes[b], i * 7 + 1)  # unique weights
            for i, (a, b) in enumerate(sorted(pairs))
        ]
        rng.shuffle(edges)
        df = spark.createDataFrame(edges, "u string, v string, w long")
        got = sorted(tuple(r) for r in boruvka_mst(df).collect())
        assert got == kruskal(edges, nodes), f"trial {trial}"


def test_greedy_matching_matches_sequential(spark):
    """Locally-dominant rounds == sequential greedy for unique weights,
    including the weight-increasing path (one matched edge per round —
    the worst case the fixed-round oracle must out-last)."""
    import random

    from chronographer_spark.operators.graph_algos import greedy_matching

    def seq_greedy(es):
        matched, used = [], set()
        for u, v, w in sorted(es, key=lambda e: -e[2]):
            if u not in used and v not in used:
                used |= {u, v}
                matched.append((u, v, w))
        return sorted(matched)

    rng = random.Random(3)
    for trial in range(2):
        n = 20 + 10 * trial
        nodes = [f"n{i}" for i in range(n)]
        pairs = set()
        while len(pairs) < n * 2:
            a, b = rng.sample(range(n), 2)
            pairs.add((min(a, b), max(a, b)))
        edges = [
            (nodes[a], nodes[b], i * 13 + 1)
            for i, (a, b) in enumerate(sorted(pairs))
        ]
        df = spark.createDataFrame(edges, "u string, v string, w long")
        got = sorted(
            tuple(r) for r in greedy_matching(df, max_rounds=32).collect()
        )
        assert got == seq_greedy(edges), f"trial {trial}"
    path = [(f"p{i}", f"p{i+1}", i + 1) for i in range(9)]
    df = spark.createDataFrame(path, "u string, v string, w long")
    got = sorted(
        tuple(r) for r in greedy_matching(df, max_rounds=16).collect()
    )
    assert got == seq_greedy(path)


def test_katz_unrolled_hand_values(spark):
    """a->b(2), b->c(1), a->c(3), rounds=2, beta=1/8: terms x8 then x1:
    k(a)=0, k(b)=2*8=16, k(c)=4*8 + (3*0+1*2) = 34."""
    from chronographer_spark.operators.graph_algos import katz_unrolled

    kedges = [("a", "b", 2), ("b", "c", 1), ("a", "c", 3)]
    kdf = spark.createDataFrame(kedges, "src string, dst string, w long")
    out = {
        r.node: r.katz_scaled
        for r in katz_unrolled(kdf, rounds=2, weight_col="w").collect()
    }
    assert out == {"a": 0, "b": 16, "c": 34}


def test_simrank_unrolled_hand_values(spark):
    """c->x, c->y, x->u, y->v: s1(x,y) = 1e6 DIV 2 = 500000 (shared
    in-neighbor, degree 1 each); s2(u,v) = s1(x,y) DIV 2 = 250000
    (second-order similarity through similar, not identical, parents);
    s2(x,y) unchanged."""
    from chronographer_spark.operators.graph_algos import simrank_unrolled

    edges = [("c", "x"), ("c", "y"), ("x", "u"), ("y", "v")]
    df = spark.createDataFrame(edges, "src string, dst string")
    out1 = sorted(tuple(r) for r in simrank_unrolled(df, rounds=1).collect())
    assert out1 == [("x", "y", 500000)]
    out2 = sorted(tuple(r) for r in simrank_unrolled(df, rounds=2).collect())
    assert out2 == [("u", "v", 250000), ("x", "y", 500000)]


def test_bootstrap_mean_ci_constant_and_order(spark):
    """Constant values: every Poisson resample mean equals the value, so
    lo = hi = mean exactly (x1e6 grid). Mixed values: lo <= hi and the
    full-data mean is the exact staged quotient; output is deterministic
    across runs (hash-driven multiplicities, no RNG state)."""
    from chronographer_spark.operators.sampling import bootstrap_mean_ci

    const = spark.createDataFrame(
        [("a", 3.0, f"id{i}") for i in range(50)],
        "event_type string, value double, event_id string",
    )
    r = bootstrap_mean_ci(const, b=40).collect()[0]
    assert (r.n_rows, r.mean_x1e6) == (50, 300 * 1_000_000)
    assert r.lo_x1e6 == r.hi_x1e6 == r.mean_x1e6

    mixed = spark.createDataFrame(
        [("a", float(i % 7), f"m{i}") for i in range(200)],
        "event_type string, value double, event_id string",
    )
    r1 = bootstrap_mean_ci(mixed, b=40).collect()[0]
    r2 = bootstrap_mean_ci(mixed, b=40).collect()[0]
    assert tuple(r1) == tuple(r2)
    assert r1.lo_x1e6 <= r1.hi_x1e6
    s = sum(round(i % 7) * 100 for i in range(200))
    assert r1.mean_x1e6 == s // 200 * 1_000_000 + s % 200 * 1_000_000 // 200


def test_bootstrap_mean_ci_tiny_group_clamped(spark):
    """A 1-row group drops every zero-mass Poisson resample, leaving
    fewer survivors than hi_rank (39 at b=40): the ranks clamp to the
    surviving count, so both CI bounds are the (constant) surviving
    mean — never NULL (ADVICE r3 item 1)."""
    from chronographer_spark.operators.sampling import bootstrap_mean_ci

    tiny = spark.createDataFrame(
        [("solo", 5.0, "only")],
        "event_type string, value double, event_id string",
    )
    r = bootstrap_mean_ci(tiny, b=40).collect()[0]
    assert r.lo_x1e6 is not None and r.hi_x1e6 is not None
    # every surviving resample of a single 5.0 row has mean 500 (x100
    # scale), so the clamped bounds equal the mean exactly
    assert r.lo_x1e6 == r.hi_x1e6 == 500 * 1_000_000
    assert r.mean_x1e6 == 500 * 1_000_000


def test_kmv_merge_group_col_inference_guard(spark):
    """kmv_merge refuses to infer the group column from a >2-column
    sketch table (silent wrong-column pick, ADVICE r3 item 2) but
    accepts an explicit group_col for the same input."""
    import pytest

    from chronographer_spark.operators.sketches import kmv_merge

    wide = spark.createDataFrame(
        [("g1", 10, "x")], "grp string, h long, extra string"
    )
    with pytest.raises(ValueError, match="cannot infer group_col"):
        kmv_merge(4, wide)
    with pytest.raises(ValueError, match="not in"):
        kmv_merge(4, wide, group_col="nope")
    out = kmv_merge(4, wide.select("grp", "h"), group_col="grp").collect()
    assert [(r.grp, r.h) for r in out] == [("g1", 10)]


def test_auc_exact_vs_bruteforce_pairs(spark):
    """auc_exact == brute-force pairwise win/tie counting on random
    labeled scores with heavy ties (the midrank path)."""
    import random

    from chronographer_spark.operators.classifier import auc_exact

    rng = random.Random(13)
    rows = [(rng.randrange(0, 20), rng.random() < 0.4) for _ in range(500)]
    pos = [s for s, l in rows if l]
    neg = [s for s, l in rows if not l]
    u2 = sum(
        2 if p > q else (1 if p == q else 0) for p in pos for q in neg
    )
    df = spark.createDataFrame(rows, "score long, label boolean")
    r = auc_exact(df).collect()[0]
    assert (r.n_pos, r.n_neg, r.u2) == (len(pos), len(neg), u2)
    d = 2 * len(pos) * len(neg)
    assert r.auc_x1e6 == u2 // d * 1_000_000 + u2 % d * 1_000_000 // d


def test_bgp_minus_semantics_and_guard(spark):
    """MINUS removes solutions sharing bindings with the minus group; a
    disconnected minus group raises (the always-a-bug degenerate case)."""
    import pytest as _pytest

    from chronographer_spark.graph.bgp import bgp

    triples = spark.createDataFrame(
        [("a", "p", "x"), ("b", "p", "y"), ("a", "q", "z")],
        ["subject", "predicate", "object"],
    )
    out = bgp(
        triples,
        patterns=[("?s", "p", "?o")],
        minus=[[("?s", "q", "?z")]],
    )
    assert [(r.s, r.o) for r in out.collect()] == [("b", "y")]
    with _pytest.raises(ValueError, match="minus group"):
        bgp(
            triples,
            patterns=[("?s", "p", "?o")],
            minus=[[("?other", "q", "?z")]],
        ).collect()


def test_spearman_hand_values(spark):
    """Perfect monotone -> +1e6 exactly (also through a tie block, whose
    doubled midranks stay aligned); reversed -> -1e6; constant side -> 0."""
    from chronographer_spark.operators.temporal import spearman_corr

    rows = (
        [("up", x, 2 * x) for x in (1, 2, 3, 4, 5)]
        + [("down", x, -3 * x) for x in (1, 2, 3, 4, 5)]
        + [("tied", x, 10 * x) for x in (1, 2, 2, 3)]
        + [("const", x, 7) for x in (1, 2, 3)]
    )
    df = spark.createDataFrame(rows, "k string, x long, y long")
    out = {r.k: (r.n, r.spearman_r2_x1e6) for r in
           spearman_corr(df, key="k", x_col="x", y_col="y").collect()}
    assert out == {
        "up": (5, 1_000_000),
        "down": (5, -1_000_000),
        "tied": (4, 1_000_000),
        "const": (3, 0),
    }


def test_adamic_adar_matches_bruteforce(spark):
    """aa_x1e6 == brute-force sum of 1e6 // floor(log2(deg)) over common
    neighbors on a small hub graph (z2 is a degree-4 hub, damped 2x
    harder than the exclusive degree-2 neighbor z1)."""
    import math

    from chronographer_spark.operators.graph_algos import adamic_adar

    edges = [("a", "z1"), ("b", "z1"), ("a", "z2"), ("b", "z2"),
             ("c", "z2"), ("d", "z2")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {(r.node_a, r.node_b): (r.n_common, r.aa_x1e6)
           for r in adamic_adar(df).collect()}

    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    exp = {}
    nodes = sorted(adj)
    for i, u in enumerate(nodes):
        for v in nodes[i + 1:]:
            common = adj[u] & adj[v]
            if common:
                exp[(u, v)] = (
                    len(common),
                    sum(1_000_000 // int(math.log2(len(adj[z])))
                        for z in common),
                )
    assert got == exp
    assert got[("a", "b")] == (2, 1_500_000)  # z1: 1e6, z2 hub: 5e5


def test_kmv_merge_law_and_estimate(spark):
    """bottomk(whole) == merge(bottomk(half1), bottomk(half2)) exactly
    (the KMV merge law); under-k groups report the exact distinct count;
    a 1000-distinct group estimates within 30% at k=64."""
    from chronographer_spark.operators.sketches import (
        kmv_bottomk, kmv_estimate, kmv_merge)

    rows = [("big", f"u{i}") for i in range(1000)] * 2 + [
        ("small", f"s{i}") for i in range(10)
    ]
    df = spark.createDataFrame(rows, "g string, u string")
    whole = kmv_bottomk(df, "g", "u", k=64)
    h1 = kmv_bottomk(df.filter(F.length("u") % 2 == 0), "g", "u", k=64)
    h2 = kmv_bottomk(df.filter(F.length("u") % 2 == 1), "g", "u", k=64)
    merged = kmv_merge(64, h1, h2)
    assert sorted(map(tuple, whole.collect())) == sorted(
        map(tuple, merged.collect())
    )
    est = {r.g: r for r in kmv_estimate(whole, "g", k=64).collect()}
    assert (est["small"].n_kept, est["small"].kmv_est) == (10, 10)
    assert est["big"].n_kept == 64
    assert abs(est["big"].kmv_est - 1000) <= 300


def test_hhi_hand_values(spark):
    """One dominating unit -> hhi = 1e6, eff = 1.000; uniform 4x2 ->
    hhi = 250000, eff = 4.000 — exact staged quotients."""
    from chronographer_spark.operators.text import hhi_concentration

    rows = [("mono", 1)] * 5 + [("uni", u) for u in (1, 2, 3, 4)] * 2
    df = spark.createDataFrame(rows, "k string, u long")
    out = {r.k: (r.n_units, r.total, r.s2, r.hhi_x1e6, r.eff_x1e3)
           for r in hhi_concentration(df, key="k", unit_col="u").collect()}
    assert out == {
        "mono": (1, 5, 25, 1_000_000, 1_000),
        "uni": (4, 8, 16, 250_000, 4_000),
    }


def test_dbscan_grid_hand_values(spark):
    """3-point core clique -> one cluster labeled by min id; a point with
    one core neighbor but too few neighbors -> border, inheriting the
    cluster; an isolated point -> noise (-1). eps=2, min_pts=3."""
    from chronographer_spark.operators.clustering import dbscan_grid

    rows = [(1, 0, 0), (2, 1, 0), (3, 0, 1), (4, 3, 0), (5, 10, 10)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    out = {r.id: (r.is_core, r.cluster)
           for r in dbscan_grid(df, eps=2, min_pts=3).collect()}
    assert out == {
        1: (True, 1), 2: (True, 1), 3: (True, 1),
        4: (False, 1), 5: (False, -1),
    }


def test_kmv_jaccard_exact_when_union_fits(spark):
    """When each union fits inside the sketch (distincts < k) the
    bottom-k estimator IS the exact Jaccard: identical sets -> 1e6,
    disjoint -> 0, a 2/6 overlap -> exactly 2*1e6 DIV 6."""
    from chronographer_spark.operators.sketches import kmv_bottomk, kmv_jaccard

    rows = (
        [("a", f"x{i}") for i in range(4)]
        + [("b", f"x{i}") for i in range(4)]          # b == a
        + [("c", f"y{i}") for i in range(4)]          # c disjoint from a
        + [("d", "x0"), ("d", "x1"), ("d", "z0"), ("d", "z1")]  # |d∩a|=2, |d∪a|=6
    )
    df = spark.createDataFrame(rows, "g string, u string")
    bk = kmv_bottomk(df, "g", "u", k=64)
    out = {(r.group_a, r.group_b): (r.denom, r.n_match, r.jacc_x1e6)
           for r in kmv_jaccard(bk, "g", k=64).collect()}
    assert out[("a", "b")] == (4, 4, 1_000_000)
    assert out[("a", "c")] == (8, 0, 0)
    assert out[("a", "d")] == (6, 2, 2 * 1_000_000 // 6)


def test_ols_slope_hand_values(spark):
    """Counts on an exact line y = 3x + c -> slope exactly 3e6; a
    reversed line -> -3e6; a single bucket -> den 0 and slope 0."""
    from chronographer_spark.operators.temporal import ols_slope

    rows = []
    for d in range(1, 6):          # days 1..5
        rows += [("up", f"2024-01-0{d} 00:00:00")] * (3 * d + 2)
        rows += [("down", f"2024-01-0{d} 00:00:00")] * (3 * (6 - d) + 2)
    rows += [("one", "2024-01-01 00:00:00")] * 4
    df = spark.createDataFrame(rows, "k string, s string").select(
        "k", F.col("s").cast("timestamp").alias("ts")
    )
    out = {r.k: (r.n_buckets, r.slope_x1e6)
           for r in ols_slope(df, key="k", ts_col="ts").collect()}
    assert out == {
        "up": (5, 3_000_000), "down": (5, -3_000_000), "one": (1, 0),
    }


def test_contingency_tvd_hand_values(spark):
    """Independent uniform 2x2 -> 0; perfectly dependent (r == c) 2x2
    -> 500000 (joint puts 1/2 on each diagonal cell, product 1/4 on all
    four -> TVD = 1/2), including the unobserved-cell fold."""
    from chronographer_spark.operators.text import contingency_tvd

    ind = spark.createDataFrame(
        [(r, c) for r in (0, 1) for c in (0, 1) for _ in range(5)],
        "r long, c long",
    )
    got = contingency_tvd(ind, "r", "c").collect()[0]
    assert (got.n, got.tvd_x1e6) == (20, 0)

    dep = spark.createDataFrame(
        [(v, v) for v in (0, 1) for _ in range(5)], "r long, c long"
    )
    got = contingency_tvd(dep, "r", "c").collect()[0]
    assert (got.n, got.n_row_cats, got.n_col_cats, got.tvd_x1e6) == (
        10, 2, 2, 500_000,
    )


def test_contingency_chi2_hand_values(spark):
    """Independent uniform 2x2 -> chi2 = 0, v2 = 0; perfectly dependent
    (r == c) 2x2 -> chi2 = N (phi = 1) and v2 = 1, exactly in x1e6
    units (every per-cell quotient is exact on these tables: O² = r·c
    or O = 0)."""
    from chronographer_spark.operators.text import contingency_chi2

    ind = spark.createDataFrame(
        [(r, c) for r in (0, 1) for c in (0, 1) for _ in range(5)],
        "r long, c long",
    )
    got = contingency_chi2(ind, "r", "c").collect()[0]
    # four cells, each O=5, r=c=10: t = 25e6 DIV 100 = 250000 each
    assert (got.n, got.sum_t_x1e6, got.chi2_x1e6, got.cramers_v2_x1e6) == (
        20, 1_000_000, 0, 0,
    )

    dep = spark.createDataFrame(
        [(v, v) for v in (0, 1) for _ in range(5)], "r long, c long"
    )
    got = contingency_chi2(dep, "r", "c").collect()[0]
    # diagonal cells: O=5, r=c=5 -> t = 1e6 each; chi2 = N*(2e6-1e6)
    assert (got.n, got.chi2_x1e6, got.cramers_v2_x1e6) == (
        10, 10_000_000, 1_000_000,
    )

    # degenerate 1xK: chi2 = 0 and the v2 guard divides by 1, not 0
    deg = spark.createDataFrame(
        [(0, c) for c in (0, 1, 2) for _ in range(3)], "r long, c long"
    )
    got = contingency_chi2(deg, "r", "c").collect()[0]
    assert (got.chi2_x1e6, got.cramers_v2_x1e6) == (0, 0)


def test_viterbi_matches_bruteforce_enumeration(spark):
    """viterbi_decode's score AND backtraced path equal exhaustive
    enumeration over all |S|^T state paths (with the pinned
    earliest-state tie-break) on every observation sequence up to
    length 4 over a 2-symbol alphabet."""
    from itertools import product

    from chronographer_spark.operators.sequence import viterbi_decode

    states = ("ok", "confused", "acting")
    start = {"ok": 0, "confused": -2, "acting": -3}
    trans = {
        "ok": {"ok": 0, "confused": -3, "acting": -1},
        "confused": {"ok": -2, "confused": 0, "acting": -4},
        "acting": {"ok": -1, "confused": -3, "acting": -2},
    }
    emit = {
        "ok": {"x": 0, "y": -2},
        "confused": {"x": -2, "y": 0},
        "acting": {"x": -1, "y": -1},
    }

    seqs, rows = [], []
    cid = 0
    for t in (1, 2, 3, 4):
        for seq in product("xy", repeat=t):
            seqs.append((f"c{cid:03d}", list(seq)))
            rows += [(f"c{cid:03d}", i, o) for i, o in enumerate(seq)]
            cid += 1
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, obs string")
    got = {
        r.conv_id: (r.n_turns, r.best_score, r.path)
        for r in viterbi_decode(
            df, states=states, start=start, trans=trans, emit=emit
        ).collect()
    }

    def brute(seq):
        best = None
        for path in product(states, repeat=len(seq)):
            sc = start[path[0]] + emit[path[0]][seq[0]]
            for i in range(1, len(seq)):
                sc += trans[path[i - 1]][path[i]] + emit[path[i]][seq[i]]
            key = (sc, tuple(-states.index(s) for s in path))
            if best is None or key > best[0]:
                best = (key, path)
        return best[0][0], ">".join(best[1])

    for conv, seq in seqs:
        sc, path = brute(seq)
        assert got[conv] == (len(seq), sc, path), (conv, seq, got[conv], (sc, path))


def test_record_counts_hand_values(spark):
    """Strictly increasing -> every row a record; decreasing -> only
    the first; ties do NOT count (strict); negative values beat the
    sentinel floor; last_record_pos pins where the trend stopped."""
    from datetime import datetime, timedelta

    from chronographer_spark.operators.temporal import record_counts

    t0 = datetime(2026, 1, 1)
    cases = {
        "up": [1, 2, 3, 4],
        "down": [4, 3, 2, 1],
        "ties": [2, 2, 3, 3],
        "neg": [-5, -7, -2],
        "midpeak": [1, 9, 3, 5],
    }
    rows = [
        (k, t0 + timedelta(seconds=i), v, i)
        for k, seq in cases.items()
        for i, v in enumerate(seq)
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v long, id long")
    got = {
        r.k: r
        for r in record_counts(
            df, key="k", ts_col="ts", val_col="v", id_col="id"
        ).collect()
    }
    assert (got["up"].n_records, got["up"].last_record_pos) == (4, 4)
    assert (got["down"].n_records, got["down"].last_record_pos) == (1, 1)
    assert got["ties"].n_records == 2  # 2 then 3; repeats don't count
    assert (got["neg"].n_records, got["neg"].last_record_pos) == (2, 3)
    assert (got["midpeak"].n_records, got["midpeak"].last_record_pos) == (2, 2)


def test_growth_accounting_hand_values(spark):
    """Hand cohort across periods 0..3: u1 always active (retained),
    u2 active 0 then 2 (churns into 1, resurrects in 2), u3 joins at 1
    and churns into 2, u4 only period 3 (new; NOT churned — no period
    after it in the data). Bridge identities hold per period."""
    from datetime import datetime, timedelta

    from chronographer_spark.operators.temporal import growth_accounting

    t0 = datetime(2026, 1, 1)

    def ev(uid, period):
        return (uid, t0 + timedelta(days=30 * period + 3))

    rows = (
        [ev(1, p) for p in (0, 1, 2, 3)]
        + [ev(2, 0), ev(2, 2)]
        + [ev(3, 1)]
        + [ev(4, 3)]
    )
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        r.period: r
        for r in growth_accounting(
            df, key="user_id", ts_col="ts", period="month"
        ).collect()
    }
    base = min(got)
    g = {p - base: got[p] for p in got}
    assert (g[0].n_active, g[0].n_new, g[0].n_churned) == (2, 2, 0)
    assert (g[1].n_active, g[1].n_new, g[1].n_retained) == (2, 1, 1)
    assert g[1].n_churned == 1  # u2 churned into period 1
    assert (g[2].n_retained, g[2].n_resurrected) == (1, 1)
    assert g[2].n_churned == 1  # u3 churned into period 2
    assert (g[3].n_active, g[3].n_new) == (2, 1)
    assert g[3].n_churned == 1  # u2 churned again into period 3
    for p in g:
        r = g[p]
        assert r.n_active == r.n_new + r.n_retained + r.n_resurrected, p
        if p - 1 in g:
            assert (
                r.n_active - g[p - 1].n_active
                == r.n_new + r.n_resurrected - r.n_churned
            ), p


def test_cuped_adjustment_hand_values(spark):
    """Exact line y = 2x + 7 gives theta = 2e6 and r² = 1e6 (full
    variance reduction); a constant y gives syy = 0 -> everything 0;
    anti-correlated data carries the sign on theta and r² but
    var_reduction stays positive."""
    from chronographer_spark.operators.classifier import cuped_adjustment

    line = spark.createDataFrame(
        [(x, 2 * x + 7) for x in (1, 2, 3, 4, 10)], "x long, y long"
    )
    got = cuped_adjustment(line).collect()[0]
    assert got.theta_x1e6 == 2_000_000
    assert got.r2_x1e6 == 1_000_000
    assert got.var_reduction_x1e6 == 1_000_000

    const = spark.createDataFrame(
        [(x, 5) for x in (1, 2, 3)], "x long, y long"
    )
    g2 = cuped_adjustment(const).collect()[0]
    assert (g2.theta_x1e6, g2.r2_x1e6) == (0, 0)

    anti = spark.createDataFrame(
        [(x, 100 - 3 * x) for x in (1, 2, 3, 4)], "x long, y long"
    )
    g3 = cuped_adjustment(anti).collect()[0]
    assert g3.theta_x1e6 == -3_000_000
    # two-factor quantization: 60*1000 DIV 20 = 3000, 60*1000 DIV 180
    # = 333 -> 999000, one ulp under the true 1e6 (deterministic, the
    # oracle replays it)
    assert g3.r2_x1e6 == -999_000
    assert g3.var_reduction_x1e6 == 999_000


def test_diff_in_diff_hand_values(spark):
    """Hand cells: control goes 10 -> 14 (trend +4), treated goes
    12 -> 21 (trend +9): did = +5, pre_gap = +2 — all exact in x1e6
    units; an empty cell divides by the guard."""
    from chronographer_spark.operators.classifier import diff_in_diff

    rows = (
        [(False, False, 10)] * 2 + [(False, True, 14)] * 2
        + [(True, False, 12)] * 2 + [(True, True, 21)] * 2
    )
    df = spark.createDataFrame(rows, "treated boolean, post boolean, v long")
    got = diff_in_diff(df).collect()[0]
    assert (got.n_t_pre, got.n_t_post, got.n_c_pre, got.n_c_post) == (
        2, 2, 2, 2,
    )
    assert got.mean_c_pre_x1e6 == 10_000_000
    assert got.pre_gap_x1e6 == 2_000_000
    assert got.did_x1e6 == 5_000_000

    # empty treated-post cell: guard divides by 1, means read 0
    df2 = spark.createDataFrame(
        [(False, False, 10), (False, True, 12), (True, False, 11)],
        "treated boolean, post boolean, v long",
    )
    g2 = diff_in_diff(df2).collect()[0]
    assert g2.n_t_post == 0 and g2.mean_t_post_x1e6 == 0


def test_rebalance_classes_exact_counts(spark):
    """Every original row survives as replica_idx 0; integer-multiple
    weights replicate exactly (majority 6 vs minority 2 -> minority
    rows get exactly 3 copies each); fractional weights match the md5
    closed form; undersampling (target below class size) drops rows
    deterministically."""
    import hashlib

    from chronographer_spark.operators.sampling import rebalance_classes

    rows = [("maj", i) for i in range(6)] + [("min", 100 + i) for i in range(2)]
    df = spark.createDataFrame(rows, "label string, id long")
    out = rebalance_classes(df, class_col="label", id_col="id").collect()
    per = {}
    for r in out:
        per.setdefault(r.label, []).append(r)
    assert len(per["maj"]) == 6
    assert len(per["min"]) == 6  # w = 3.0 exactly -> 3 copies each
    assert sum(1 for r in per["min"] if r.replica_idx == 0) == 2

    # fractional: maj 3 vs min 2 -> w = 1.5: 1 copy + md5-frac extra
    rows2 = [("a", i) for i in range(3)] + [("b", 10), ("b", 11)]
    df2 = spark.createDataFrame(rows2, "label string, id long")
    got2 = [
        r
        for r in rebalance_classes(df2, class_col="label", id_col="id").collect()
        if r.label == "b"
    ]
    expected = 2
    for rid in (10, 11):
        h = int(hashlib.md5(f"rb:{rid}".encode()).hexdigest()[:8], 16)
        expected += 1 if h % 1_000_000 < 500_000 else 0
    assert len(got2) == expected

    # undersampling: target 1 on a 2-row class keeps hash-chosen rows
    under = rebalance_classes(df2, class_col="label", id_col="id", target=1)
    kept_b = [r for r in under.collect() if r.label == "b"]
    exp_b = sum(
        1
        for rid in (10, 11)
        if int(hashlib.md5(f"rb:{rid}".encode()).hexdigest()[:8], 16)
        % 1_000_000
        < 500_000
    )
    assert len(kept_b) == exp_b


def test_edge_embeddedness_hand_graph(spark):
    """Triangle a-b-c plus pendant edge c-d: the triangle edges have
    embeddedness 1 each, c-d is the local bridge (0); duplicate and
    reversed input edges collapse."""
    from chronographer_spark.operators.graph_algos import edge_embeddedness

    edges = [("a", "b"), ("b", "a"), ("b", "c"), ("a", "c"),
             ("c", "d"), ("c", "d")]
    df = spark.createDataFrame(edges, "u string, v string")
    got = {(r.u, r.v): r for r in edge_embeddedness(df).collect()}
    assert len(got) == 4
    for e in [("a", "b"), ("a", "c"), ("b", "c")]:
        assert got[e].embeddedness == 1 and got[e].is_local_bridge == 0, e
    assert got[("c", "d")].embeddedness == 0
    assert got[("c", "d")].is_local_bridge == 1


def test_uplift_by_segment_hand_values(spark):
    """Hand arms: segment s1 treated 3/4 vs control 1/4 (uplift
    +500000, inc_cross = 3·4 − 1·4 = 8); s2 balanced (0, 0); an
    empty-control segment divides by the guard, not by zero."""
    from chronographer_spark.operators.classifier import uplift_by_segment

    rows = (
        [("s1", True, 1)] * 3 + [("s1", True, 0)]
        + [("s1", False, 1)] + [("s1", False, 0)] * 3
        + [("s2", True, 1), ("s2", True, 0),
           ("s2", False, 1), ("s2", False, 0)]
        + [("s3", True, 1), ("s3", True, 1)]
    )
    df = spark.createDataFrame(rows, "segment string, treated boolean, y long")
    got = {r.segment: r for r in uplift_by_segment(df).collect()}
    s1 = got["s1"]
    assert (s1.n_treated, s1.n_control) == (4, 4)
    assert (s1.rate_t_x1e6, s1.rate_c_x1e6) == (750_000, 250_000)
    assert (s1.uplift_x1e6, s1.inc_cross) == (500_000, 8)
    assert (got["s2"].uplift_x1e6, got["s2"].inc_cross) == (0, 0)
    s3 = got["s3"]
    assert (s3.n_control, s3.rate_c_x1e6, s3.uplift_x1e6) == (
        0, 0, 1_000_000,
    )


def test_zipf_msb_slope_powerlaw_fixture(spark):
    """On an exact power-law vocabulary (freq(r) = 2^(7-r) for ranks
    1..7) the msb-quantized OLS matches the Python-computed moments and
    reads a steep negative slope; a uniform vocabulary reads den > 0,
    slope ~ 0."""
    from chronographer_spark.operators.text import zipf_msb_slope

    toks = []
    for r, w in enumerate("abcdefg", 1):
        toks += [w] * (2 ** (7 - r))
    df = spark.createDataFrame([(" ".join(toks),)], "text string")
    got = zipf_msb_slope(df).collect()[0]
    assert got.n_vocab == 7
    assert got.n_tokens == 127  # 64+32+16+8+4+2+1

    xs = [r.bit_length() - 1 for r in range(1, 8)]
    ys = [(2 ** (7 - r)).bit_length() - 1 for r in range(1, 8)]
    n = 7
    num = n * sum(x * y for x, y in zip(xs, ys)) - sum(xs) * sum(ys)
    den = n * sum(x * x for x in xs) - sum(xs) ** 2
    assert (got.num, got.den) == (num, den)
    sign = -1 if num < 0 else 1
    assert got.slope_x1e6 == sign * (
        abs(num) // den * 10**6 + abs(num) % den * 10**6 // den
    )
    assert got.slope_x1e6 < -1_000_000  # steeper than -1: msb floor bias

    uni = spark.createDataFrame(
        [(" ".join(w * 1 for w in ["aa", "bb", "cc", "dd"] * 3),)],
        "text string",
    )
    g2 = zipf_msb_slope(uni).collect()[0]
    assert g2.den > 0 and g2.slope_x1e6 == 0


def test_peak_concurrency_hand_values(spark):
    """Hand sweep: three stacked intervals peak at 3 from the third
    start; half-open semantics — an interval ending exactly when
    another starts does NOT overlap (peak stays 1); earliest peak
    instant pinned when the max recurs."""
    from chronographer_spark.operators.temporal import peak_concurrency

    rows = [
        # key a: [0,10) [2,12) [4,6) -> peak 3 at t=4; again never
        ("a", 1, 0, 10), ("a", 2, 2, 12), ("a", 3, 4, 6),
        # key b: touching chain [0,5) [5,10) -> peak 1 at t=0
        ("b", 4, 0, 5), ("b", 5, 5, 10),
        # key c: peak 2 reached twice (t=1 and t=7) -> earliest pinned
        ("c", 6, 0, 3), ("c", 7, 1, 2), ("c", 8, 6, 9), ("c", 9, 7, 8),
    ]
    df = spark.createDataFrame(rows, "k string, id long, s long, e long")
    got = {
        r.k: r
        for r in peak_concurrency(
            df, key="k", start_col="s", end_col="e", id_col="id"
        ).collect()
    }
    assert (got["a"].n_intervals, got["a"].peak, got["a"].peak_at) == (3, 3, 4)
    assert (got["b"].peak, got["b"].peak_at) == (1, 0)
    assert (got["c"].peak, got["c"].peak_at) == (2, 1)


def test_touch_attribution_hand_values(spark):
    """One conversion with 3 in-window touches splits 1e6 as
    333333+333333+333334 (remainder to the LAST touch); a touch after
    the conversion and one outside the window are excluded; a
    touch-free conversion lands in __unattributed__."""
    from datetime import datetime, timedelta

    from chronographer_spark.operators.temporal import touch_attribution

    t0 = datetime(2026, 3, 10, 12, 0, 0)

    def ev(eid, uid, typ, dt_s):
        return (eid, uid, typ, t0 + timedelta(seconds=dt_s))

    rows = [
        ev(1, 1, "click", -3600),          # in window
        ev(2, 1, "view", -7200),           # in window
        ev(3, 1, "click", -8 * 86400),     # outside 7d window
        ev(4, 1, "view", -60),             # in window, LAST touch
        ev(5, 1, "purchase", 0),
        ev(6, 1, "click", 50),             # after conversion: excluded
        ev(7, 2, "purchase", 0),           # no touches
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    got = {
        r.touch_type: r
        for r in touch_attribution(df, window_seconds=7 * 86400).collect()
    }
    assert got["click"].n_touches == 1
    assert got["click"].credit_x1e6 == 333_333
    assert got["view"].n_touches == 2
    # remainder (1e6 % 3 = 1) goes to event 4, the last view
    assert got["view"].credit_x1e6 == 333_333 + 333_334
    assert (got["view"].first_touch, got["view"].last_touch) == (1, 1)
    assert got["__unattributed__"].n_conversions_touched == 1
    total = sum(
        r.credit_x1e6 for k, r in got.items() if k != "__unattributed__"
    )
    assert total == 1_000_000


def test_brier_decomposition_hand_values(spark):
    """Two 4-row bins, both at observed rate 0.25: f=250 is perfectly
    calibrated (contributes 0 reliability), f=750 contributes the full
    (0.5)² gap; resolution is 0 (both bins sit at the base rate);
    uncertainty = 0.25·0.75; Brier = rel − res + unc exactly."""
    from chronographer_spark.operators.classifier import brier_decomposition

    rows = [(250, 1), (250, 0), (250, 0), (250, 0),
            (750, 1), (750, 0), (750, 0), (750, 0)]
    df = spark.createDataFrame(rows, "f long, y long")
    got = brier_decomposition(df).collect()[0]
    assert (got.n, got.n_bins) == (8, 2)
    assert got.reliability_x1e6 == 125_000
    assert got.resolution_x1e6 == 0
    assert got.uncertainty_x1e6 == 187_500
    assert got.brier_x1e6 == 312_500
    assert got.brier_x1e6 == (
        got.reliability_x1e6 - got.resolution_x1e6 + got.uncertainty_x1e6
    )


def test_lis_length_matches_bruteforce(spark):
    """lis_len equals exhaustive strictly-increasing-subsequence search
    on hand sequences covering: sorted, reversed, duplicates (strict —
    equal values don't extend), and the classic interleave."""
    from itertools import combinations

    from chronographer_spark.operators.sequence import lis_length

    cases = {
        "sorted": [1, 2, 3, 4, 5],
        "reversed": [5, 4, 3, 2, 1],
        "dups": [2, 2, 2, 2],
        "classic": [3, 1, 4, 1, 5, 9, 2, 6],
        "single": [7],
    }
    rows = [
        (k, i, v) for k, seq in cases.items() for i, v in enumerate(seq)
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx long, v long")
    got = {r.conv_id: r for r in lis_length(df).collect()}

    def brute(seq):
        best = 0
        for r in range(1, len(seq) + 1):
            for sub in combinations(seq, r):
                if all(a < b for a, b in zip(sub, sub[1:])):
                    best = max(best, r)
        return best

    for k, seq in cases.items():
        assert got[k].n_turns == len(seq), k
        assert got[k].lis_len == brute(seq), k
    assert got["dups"].lis_len == 1
    assert got["classic"].lis_len == 4


def test_permutation_test_matches_python_replay(spark):
    """The per-perm reassignment, staged mean quotients, and p-value
    match an exact Python replay of the md5 ordering; degenerate
    identical-values input gives every shuffle |0| >= |0| -> p = 1."""
    import hashlib

    from chronographer_spark.operators.classifier import permutation_test

    rows = [(i, 100 + 7 * i, i % 3 == 0) for i in range(20)]
    df = spark.createDataFrame(rows, "id long, v long, label boolean")
    K = 8
    got = permutation_test(
        df, label_col="label", value_col="v", id_col="id", n_perms=K
    ).collect()[0]

    def h(perm, rid):
        return int(
            hashlib.md5(f"pt:{perm}:{rid}".encode()).hexdigest()[:8], 16
        )

    def staged_diff(pairs, n_a):
        sa = sum(v for v, a in pairs if a)
        sb = sum(v for v, a in pairs if not a)
        n_b = len(pairs) - n_a
        q = lambda s, n: s // n * 10**6 + s % n * 10**6 // n
        return q(sa, n_a) - q(sb, n_b)

    n_a = sum(1 for _, _, a in rows if a)
    obs = staged_diff([(v, a) for _, v, a in rows], n_a)
    assert got.obs_diff_x1e6 == obs
    n_ext = 0
    for r in range(K):
        order = sorted(rows, key=lambda t: (h(r, str(t[0])), str(t[0])))
        relab = [(v, i < n_a) for i, (_, v, _) in enumerate(order)]
        if abs(staged_diff(relab, n_a)) >= abs(obs):
            n_ext += 1
    assert got.n_extreme == n_ext
    assert got.p_x1e6 == (n_ext + 1) * 10**6 // (K + 1)

    same = spark.createDataFrame(
        [(i, 5, i < 4) for i in range(10)], "id long, v long, label boolean"
    )
    g2 = permutation_test(same, n_perms=4, value_col="v").collect()[0]
    assert (g2.obs_diff_x1e6, g2.n_extreme, g2.p_x1e6) == (0, 4, 1_000_000)


def test_rfm_segments_hand_values(spark):
    """5 users, one event each at day offsets 0..4 with values 1..5:
    every axis ranks them the same way, so user k gets identical
    r/f/m... recency reverses (older last-touch = lower band). With
    n = n_bands every user lands in their own band."""
    from datetime import datetime

    from chronographer_spark.operators.temporal import rfm_segments

    rows = [
        (u, datetime(2026, 1, 1 + u), float(u + 1)) for u in range(5)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = {r.user_id: r for r in rfm_segments(df).collect()}
    for u in range(5):
        r = got[u]
        assert r.recency_days == 4 - u
        assert r.frequency == 1
        assert r.monetary_cents == (u + 1) * 100
        # user 0 is oldest/lowest-value -> band 1 on every axis
        assert (r.r_score, r.m_score) == (u + 1, u + 1), u
        assert r.rfm_code == r.r_score * 100 + r.f_score * 10 + r.m_score

    # frequency ties band by the pinned user_id order
    assert [got[u].f_score for u in range(5)] == [1, 2, 3, 4, 5]


def test_rephrase_spans_hand_values(spark):
    """Hand-built conversation: exact repeat excluded (lev = 0), a
    one-char edit within threshold counts, a rewrite beyond threshold
    doesn't, non-user turns never pair, single-turn conv has 0 pairs."""
    from chronographer_spark.operators.dialogue import rephrase_spans

    rows = [
        # conv a: 4 user turns; pairs: (t0,t2) lev=0 no, (t2,t4) lev=1
        # yes (1*10 <= 1*10 chars? "hello word" vs "hello word"),
        # (t4,t6) big rewrite no
        ("a", 0, "user", "hello word"),
        ("a", 1, "assistant", "x"),
        ("a", 2, "user", "hello word"),
        ("a", 3, "assistant", "y"),
        ("a", 4, "user", "hello ward"),
        ("a", 5, "assistant", "z"),
        ("a", 6, "user", "completely different thing"),
        ("b", 0, "user", "only turn"),
    ]
    tx = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )
    got = {
        r.conv_id: r
        for r in rephrase_spans(tx, role="user", num=1, den=10).collect()
    }
    def lev(x, y):
        prev = list(range(len(y) + 1))
        for i, cx in enumerate(x, 1):
            cur = [i]
            for j, cy in enumerate(y, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1,
                        prev[j - 1] + (cx != cy))
                )
            prev = cur
        return prev[-1]

    a = got["a"]
    assert (a.n_role_turns, a.n_pairs, a.n_rephrase) == (4, 3, 1)
    assert a.sum_lev == 0 + 1 + lev(
        "hello ward", "completely different thing"
    )
    b = got["b"]
    assert (b.n_role_turns, b.n_pairs, b.n_rephrase, b.sum_lev) == (
        1, 0, 0, 0,
    )


def test_burst_decode_hand_sequences(spark):
    """The 2-state burst automaton decodes an obvious fast run as burst
    and an all-slow stream as calm; a mixed stream's n_burst equals the
    exhaustively enumerated best path's burst count (earliest-state
    tie-break)."""
    from itertools import product

    from chronographer_spark.entry_queries import (
        BURST_EMIT,
        BURST_START,
        BURST_STATES,
        BURST_TRANS,
    )
    from chronographer_spark.operators.sequence import viterbi_decode

    def brute(seq):
        best = None
        for path in product(BURST_STATES, repeat=len(seq)):
            s = BURST_START[path[0]] + BURST_EMIT[path[0]][seq[0]]
            for i in range(1, len(seq)):
                s += BURST_TRANS[path[i - 1]][path[i]]
                s += BURST_EMIT[path[i]][seq[i]]
            # earliest-state tie-break == smallest state-index tuple
            k = (-s, tuple(BURST_STATES.index(p) for p in path))
            if best is None or k < best[0]:
                best = (k, path, s)
        return best[1], best[2]

    cases = {
        "fastrun": ["fast"] * 6,
        "slowrun": ["slow"] * 6,
        "mixed": ["slow", "fast", "fast", "fast", "slow", "slow",
                  "fast", "fast"],
    }
    rows = [
        (k, i, o) for k, seq in cases.items() for i, o in enumerate(seq)
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx long, obs string")
    got = {
        r.conv_id: r
        for r in viterbi_decode(
            df, states=BURST_STATES, start=BURST_START,
            trans=BURST_TRANS, emit=BURST_EMIT,
        ).collect()
    }
    assert got["fastrun"].path == ">".join(["burst"] * 6)
    assert got["slowrun"].path == ">".join(["calm"] * 6)
    for k, seq in cases.items():
        path, score = brute(seq)
        assert got[k].path == ">".join(path), k
        assert got[k].best_score == score, k


def test_weighted_interval_schedule_matches_bruteforce(spark):
    """best_total equals exhaustive all-subsets enumeration on keys
    with overlapping, nested, touching (end == start is compatible),
    and disjoint intervals — including a key where greedy-by-weight is
    suboptimal."""
    from itertools import combinations

    from chronographer_spark.operators.sequence import (
        weighted_interval_schedule,
    )

    cases = {
        # (s, e, w): big middle interval blocks two that together win
        "greedy_trap": [(0, 10, 7), (0, 4, 4), (6, 10, 4)],
        "touching": [(0, 5, 3), (5, 10, 4), (10, 15, 2)],
        "nested": [(0, 100, 5), (10, 20, 3), (30, 40, 4), (50, 60, 2)],
        "disjoint": [(0, 1, 1), (2, 3, 2), (4, 5, 3)],
        "all_overlap": [(0, 10, 3), (1, 11, 9), (2, 12, 4)],
    }
    rows = [
        (k, i, s, e, w)
        for k, ivs in cases.items()
        for i, (s, e, w) in enumerate(ivs)
    ]
    df = spark.createDataFrame(
        rows, "k string, id long, s long, e long, w long"
    )
    got = {
        r.k: r
        for r in weighted_interval_schedule(
            df, key="k", start_col="s", end_col="e",
            weight_col="w", id_col="id",
        ).collect()
    }

    def brute(ivs):
        best = 0
        for r in range(1, len(ivs) + 1):
            for sub in combinations(ivs, r):
                ok = all(
                    a[1] <= b[0] or b[1] <= a[0]
                    for a, b in combinations(sub, 2)
                )
                if ok:
                    best = max(best, sum(w for _, _, w in sub))
        return best

    for k, ivs in cases.items():
        assert got[k].n_intervals == len(ivs), k
        assert got[k].best_total == brute(ivs), k
    assert got["greedy_trap"].best_total == 8


def test_decision_stump_matches_bruteforce(spark):
    """Best (threshold, quantized Gini) per feature equals exhaustive
    evaluation of every candidate split on a small labeled set with a
    clean split on f1 and noise on f2 (ties resolved to the smallest
    threshold)."""
    from chronographer_spark.operators.classifier import decision_stump

    rows = []
    for i in range(12):
        f1 = i // 4            # 0,0,0,0,1,1,1,1,2,2,2,2
        f2 = i % 3
        label = i >= 4         # true iff f1 >= 1, so "f1 <= 0" is a perfect split
        rows.append((bool(label), f1, f2))
    df = spark.createDataFrame(rows, "label boolean, f1 long, f2 long")
    got = {r.feature: (r.threshold, r.n_left, r.n_right, r.gini_x1e6)
           for r in decision_stump(df, ["f1", "f2"], "label").collect()}

    def brute(vals, labels):
        best = None
        n = len(vals)
        for t in sorted(set(vals))[:-1]:
            lp = sum(1 for v, y in zip(vals, labels) if v <= t and y)
            ln = sum(1 for v, y in zip(vals, labels) if v <= t and not y)
            rp = sum(1 for v, y in zip(vals, labels) if v > t and y)
            rn = sum(1 for v, y in zip(vals, labels) if v > t and not y)
            nl, nr = lp + ln, rp + rn
            s = (nl * nl - lp * lp - ln * ln) * nr + (nr * nr - rp * rp - rn * rn) * nl
            q1 = s // (nl * nr) * 10**6 + s % (nl * nr) * 10**6 // (nl * nr)
            g = q1 // n
            if best is None or (g, t) < best[0]:
                best = ((g, t), (t, nl, nr, g))
        return best[1]

    vals1 = [r[1] for r in rows]
    vals2 = [r[2] for r in rows]
    labels = [r[0] for r in rows]
    assert got["f1"] == brute(vals1, labels)
    assert got["f2"] == brute(vals2, labels)
    assert got["f1"][0] == 0 and got["f1"][3] == 0  # perfect split at f1 <= 0


# ---------------------------------------------------------------------------
# DSIR importance resampling + DAG path statistics (round 4)
# ---------------------------------------------------------------------------


def _py_msb16(q: int) -> int:
    q = min(max(q, 1), 1 << 52)
    lg = q.bit_length() - 1
    return 16 * lg + (q * 16) // (1 << lg) - 16


def test_dsir_bucket_scores_match_python_model(spark):
    from chronographer_spark.operators.sampling import dsir_bucket_scores
    import hashlib

    rows = [
        (1, "alpha beta alpha gamma", "t"),
        (2, "alpha alpha beta beta", "t"),
        (3, "delta epsilon delta zeta", "r"),
        (4, "beta delta eta eta theta", "r"),
        (5, "alpha zeta zeta", "r"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "grp"])
    got = {
        r["bucket"]: (r["ct"], r["cr"], r["s16"])
        for r in dsir_bucket_scores(
            df, F.col("grp") == "t", n_buckets=64
        ).collect()
    }

    # pure-python replay: md5 bucket, add-1 smoothed ratio, msb16 LLR
    ct, cr = {}, {}
    for _, text, grp in rows:
        for tok in text.split():
            b = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 64
            (ct if grp == "t" else cr)[b] = (
                (ct if grp == "t" else cr).get(b, 0) + 1
            )
    t_tot, r_tot = sum(ct.values()), sum(cr.values())
    qd = _py_msb16((t_tot + 64) * 1048576 // (r_tot + 64))
    want = {}
    for b in set(ct) | set(cr):
        c_t, c_r = ct.get(b, 0), cr.get(b, 0)
        want[b] = (c_t, c_r, _py_msb16((c_t + 1) * 1048576 // (c_r + 1)) - qd)
    assert got == want


def test_dsir_select_prefers_target_like_raw_docs(spark):
    from chronographer_spark.operators.sampling import dsir_select

    # target vocabulary {alpha beta}, raw-only vocabulary {delta epsilon}.
    # raw doc 10 is written in the target's vocabulary, raw doc 11 is not:
    # 10 must outrank 11, and only raw docs may appear at all.
    rows = [
        (1, "alpha beta alpha beta alpha", "t"),
        (2, "beta alpha beta beta", "t"),
        (10, "alpha beta alpha beta", "r"),
        (11, "delta epsilon delta epsilon", "r"),
        (12, "alpha delta", "r"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "grp"])
    out = dsir_select(df, F.col("grp") == "t", k=10, n_buckets=64).collect()
    ids = [r["doc_id"] for r in sorted(out, key=lambda r: r["rnk"])]
    assert set(ids) == {10, 11, 12}
    assert ids[0] == 10 and ids[-1] == 11
    w = {r["doc_id"]: r["w_s16"] for r in out}
    assert w[10] > w[12] > w[11]


def test_dag_path_stats_matches_python_dp(spark):
    from chronographer_spark.operators.graph_algos import dag_path_stats

    n = 200
    edges = []
    for k in range(2, n + 1):
        edges.append((k, k // 2))
        if k >= 3 and k // 3 != k // 2:
            edges.append((k, k // 3))
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: (r["d_long"], r["d_short"], r["n_paths"])
        for r in dag_path_stats(edf, root=1).collect()
    }

    dp = {1: (0, 0, 1)}
    for k in range(2, n + 1):
        outs = {k // 2}
        if k >= 3 and k // 3 != k // 2:
            outs.add(k // 3)
        dl = 1 + max(dp[o][0] for o in outs)
        ds = 1 + min(dp[o][1] for o in outs)
        np_ = sum(dp[o][2] for o in outs)
        dp[k] = (dl, ds, np_)
    assert got == dp


def test_dag_path_stats_diamond_multiplicity(spark):
    from chronographer_spark.operators.graph_algos import dag_path_stats

    # 5 -> {4, 1}, 4 -> 1: two distinct paths from 5, short=1, long=2
    edf = spark.createDataFrame(
        [(5, 4), (5, 1), (4, 1)], "src long, dst long"
    )
    got = {
        r["node"]: (r["d_long"], r["d_short"], r["n_paths"])
        for r in dag_path_stats(edf, root=1).collect()
    }
    assert got == {1: (0, 0, 1), 4: (1, 1, 1), 5: (2, 1, 2)}


def test_incremental_components_equals_full_recompute(spark):
    from chronographer_spark.linking.canonicalize import (
        connected_components,
        incremental_components,
    )

    # deterministic pseudo-random graph, split into history + batch
    full = []
    for k in range(1, 200):
        full.append((k, (k * 37) % 211 % 199 + 1))
        if k % 6 == 0:
            full.append((k, k // 2 + 1))
    full = [(a, b) for a, b in full if a != b]
    hist = [(a, b) for a, b in full if (a + b) % 5 != 0]
    batch = [(a, b) for a, b in full if (a + b) % 5 == 0]

    def nodes(pairs):
        return sorted({x for p in pairs for x in p})

    hdf = spark.createDataFrame(hist, "src long, dst long")
    hnodes = spark.createDataFrame([(n,) for n in nodes(hist)], "node long")
    prior = connected_components(hdf, all_nodes=hnodes)

    bdf = spark.createDataFrame(batch, "src long, dst long")
    got = {
        r["node"]: r["component"]
        for r in incremental_components(prior, bdf).collect()
    }

    fdf = spark.createDataFrame(full, "src long, dst long")
    fnodes = spark.createDataFrame([(n,) for n in nodes(full)], "node long")
    want = {
        r["node"]: r["component"]
        for r in connected_components(fdf, all_nodes=fnodes).collect()
    }
    assert got == want


def test_incremental_components_composes_over_two_batches(spark):
    from chronographer_spark.linking.canonicalize import (
        connected_components,
        incremental_components,
    )

    # long chain 1-2-3-...-40 delivered in three waves; after the final
    # wave everything must collapse to component 1
    full = [(k, k + 1) for k in range(1, 40)]
    hist = [e for e in full if e[0] % 3 == 1]
    b1 = [e for e in full if e[0] % 3 == 2]
    b2 = [e for e in full if e[0] % 3 == 0]

    hdf = spark.createDataFrame(hist, "src long, dst long")
    hnodes = spark.createDataFrame(
        [(n,) for n in sorted({x for p in hist for x in p})], "node long"
    )
    cur = connected_components(hdf, all_nodes=hnodes)
    for wave in (b1, b2):
        cur = incremental_components(
            cur, spark.createDataFrame(wave, "src long, dst long")
        ).localCheckpoint(eager=True)
    got = {r["node"]: r["component"] for r in cur.collect()}
    assert got == {k: 1 for k in range(1, 41)}


def test_incremental_components_delta_mode_applies_to_full(spark):
    from chronographer_spark.linking.canonicalize import (
        connected_components,
        incremental_components,
    )

    full = []
    for k in range(1, 200):
        full.append((k, (k * 37) % 211 % 199 + 1))
        if k % 6 == 0:
            full.append((k, k // 2 + 1))
    full = [(a, b) for a, b in full if a != b]
    hist = [(a, b) for a, b in full if (a + b) % 5 != 0]
    batch = [(a, b) for a, b in full if (a + b) % 5 == 0]

    def nodes(pairs):
        return sorted({x for p in pairs for x in p})

    hdf = spark.createDataFrame(hist, "src long, dst long")
    hnodes = spark.createDataFrame([(n,) for n in nodes(hist)], "node long")
    prior = connected_components(hdf, all_nodes=hnodes).localCheckpoint(
        eager=True
    )
    bdf = spark.createDataFrame(batch, "src long, dst long")

    full_out = {
        r["node"]: r["component"]
        for r in incremental_components(prior, bdf, emit="full").collect()
    }
    delta = {
        r["node"]: r["component"]
        for r in incremental_components(prior, bdf, emit="delta").collect()
    }
    applied = {r["node"]: r["component"] for r in prior.collect()}
    applied.update(delta)
    assert applied == full_out
    # the delta must be a strict subset: only rows that differ from prior
    pr = {r["node"]: r["component"] for r in prior.collect()}
    assert all(n not in pr or pr[n] != c for n, c in delta.items())
    assert len(delta) < len(full_out)


def test_node2vec_walks_match_python_replay(spark):
    from chronographer_spark.operators.graph_algos import node2vec_walks
    import hashlib

    # multi-digit node ids so STRING neighbor ordering differs from numeric
    edges = [
        (1, 2), (1, 3), (1, 10), (2, 1), (2, 3), (2, 11), (3, 1), (3, 4),
        (10, 2), (10, 12), (11, 3), (11, 10), (12, 1), (4, 2), (4, 10),
    ]
    edf = spark.createDataFrame(edges, "src long, dst long")
    W_RET, W_COM, W_FAR, ATT = 1, 4, 2, 3
    got = {
        (r["walk_id"], r["step"]): r["node"]
        for r in node2vec_walks(
            edf, n_steps=3, seed="n2v", w_return=W_RET, w_common=W_COM,
            w_far=W_FAR, attempts=ATT,
        ).collect()
    }

    def md5_32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    adj, eset = {}, set()
    for a, b in edges:
        adj.setdefault(str(a), set()).add(str(b))
        eset.add((str(a), str(b)))
    adj = {k: sorted(v) for k, v in adj.items()}
    w_max = max(W_RET, W_COM, W_FAR)

    want = {}
    for start in sorted(adj):
        wid, cur, prev = start, start, None
        want[(wid, 0)] = cur
        # step 1: uniform index pick
        if cur not in adj:
            continue
        r = md5_32(f"n2v|{wid}|1|{cur}")
        prev, cur = cur, adj[cur][r % len(adj[cur])]
        want[(wid, 1)] = cur
        for i in (2, 3):
            if cur not in adj:
                break
            cands = []
            for j in range(1, ATT + 1):
                r = md5_32(f"n2v|{wid}|{i}|{j}|{prev}|{cur}")
                deg = len(adj[cur])
                x = adj[cur][r % deg]
                u = (r // deg) % w_max
                wc = (
                    W_RET if x == prev
                    else W_COM if (prev, x) in eset
                    else W_FAR
                )
                cands.append((j if u < wc else ATT + j, x))
            nxt = min(cands)[1]
            prev, cur = cur, nxt
            want[(wid, i)] = cur
    assert got == want


def test_preference_pairs_hand_values(spark):
    from chronographer_spark.operators.dialogue import preference_pairs

    rows = [
        # c1: clear best (idx 3, len 7) and worst (idx 1, len 2)
        ("c1", 1, "assistant", "ab"),
        ("c1", 2, "user", "ignored-role-row"),
        ("c1", 3, "assistant", "abcdefg"),
        ("c1", 5, "assistant", "abcd"),
        # c2: ALL equal lengths -> chosen = first turn, rejected = last
        ("c2", 2, "assistant", "xxx"),
        ("c2", 4, "assistant", "yyy"),
        ("c2", 6, "assistant", "zzz"),
        # c3: single assistant turn -> excluded
        ("c3", 1, "assistant", "only"),
    ]
    tx = spark.createDataFrame(rows, ["conv_id", "turn_idx", "role", "text"])
    got = {
        r["conv_id"]: (
            r["chosen_turn"], r["rejected_turn"], r["margin"]
        )
        for r in preference_pairs(tx).collect()
    }
    assert got == {"c1": (3, 1, 5), "c2": (2, 6, 0)}


def test_bigram_nll_matches_python_model(spark):
    from chronographer_spark.operators.text import bigram_nll

    rows = [
        (1, "the cat sat on the mat", "t"),
        (2, "the dog sat on the cat", "t"),
        (3, "the cat sat on the mat", "r"),      # fluent under the LM
        (4, "zebra quark flux zebra quark", "r"),  # all-unknown bigrams
        (5, "one", "r"),                          # < 2 tokens -> dropped
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "grp"])
    got = {
        r["doc_id"]: (r["n_pairs"], r["nll_s16"], r["avg_nll_permille"])
        for r in bigram_nll(df, F.col("grp") == "t").collect()
    }

    def msb16(q):
        q = min(max(q, 1), 1 << 52)
        lg = q.bit_length() - 1
        return 16 * lg + (q * 16) // (1 << lg) - 16

    c2, c1, vocab = {}, {}, set()
    for _, text, grp in rows:
        t = text.split()
        if grp == "t" and len(t) >= 2:
            for x, y in zip(t, t[1:]):
                c2[(x, y)] = c2.get((x, y), 0) + 1
                c1[x] = c1.get(x, 0) + 1
                vocab.update((x, y))
    v = len(vocab)
    want = {}
    for doc_id, text, _ in rows:
        t = text.split()
        if len(t) < 2:
            continue
        ss = [
            msb16(
                (c1.get(x, 0) + v) * 1048576 // (c2.get((x, y), 0) + 1)
            )
            for x, y in zip(t, t[1:])
        ]
        want[doc_id] = (len(ss), sum(ss), sum(ss) * 1000 // len(ss))
    assert got == want
    assert 5 not in got
    # fluency ordering: the in-distribution doc scores lower than the
    # unknown-vocabulary doc
    assert got[3][2] < got[4][2]


def test_pagerank_warm_start_converges_faster(spark):
    from chronographer_spark.operators.graph_algos import pagerank

    # ring + two low-rank high-outdeg spray nodes; the batch adds one more
    # out-edge to each spray node — a SMALL flow perturbation
    # (rank(src) ~ 1-d, split 11 ways), the regime where resuming from the
    # prior fixed point must beat a cold 1.0 start
    n = 40
    full = [(f"v{k}", f"v{(k + 1) % n}") for k in range(n)]
    for s, base in (("s1", 0), ("s2", 1)):
        full += [(s, f"v{(base + 3 * j) % n}") for j in range(10)]
    batch = [("s1", "v17"), ("s2", "v23")]
    assert not set(batch) & set(full)
    full += batch
    hist = [e for e in full if e not in batch]

    hdf = spark.createDataFrame(hist, "src string, dst string")
    fdf = spark.createDataFrame(full, "src string, dst string")
    prior = pagerank(hdf, damping=0.5, iterations=30, tol=1e-5).localCheckpoint(
        eager=True
    )

    cold, ic = pagerank(
        fdf, damping=0.5, iterations=30, tol=1e-4, return_iters=True
    )
    warm, iw = pagerank(
        fdf, damping=0.5, iterations=30, tol=1e-4,
        init_ranks=prior, return_iters=True,
    )
    assert iw < ic, (iw, ic)
    # both converged to the same fixed point (within tol-scale agreement)
    diff = (
        cold.withColumnRenamed("rank", "rc")
        .join(warm.withColumnRenamed("rank", "rw"), "node")
        .agg(F.max(F.abs(F.col("rc") - F.col("rw"))))
        .first()[0]
    )
    assert diff < 1e-3, diff


def test_coarsen_graph_hand_values(spark):
    from chronographer_spark.operators.graph_algos import coarsen_graph

    edges = spark.createDataFrame(
        [("a", "b", 10), ("b", "c", 20), ("c", "d", 30), ("a", "c", 40),
         ("d", "e", 50)],
        "u string, v string, w long",
    )
    matching = spark.createDataFrame(
        [("a", "b"), ("c", "d")], "u string, v string"
    )
    got = {
        (r["cu"], r["cv"]): (r["w_sum"], r["n_merged"])
        for r in coarsen_graph(edges, matching).collect()
    }
    # a-b and c-d become self-loops (dropped); b-c and a-c merge into
    # supernode edge (a, c) with summed weight; d-e remaps to (c, e)
    assert got == {("a", "c"): (60, 2), ("c", "e"): (50, 1)}


def test_multilevel_partition_matched_pairs_share_label(spark):
    from chronographer_spark.operators.graph_algos import (
        coarsen_graph,
        greedy_matching,
        label_propagation,
    )

    # two planted communities bridged by one weak edge; unique weights
    edges = []
    for base in (0, 10):
        grp = list(range(base, base + 6))
        edges += [
            (a, b, 1000 + a * 31 + b)
            for a in grp for b in grp if a < b
        ]
    edges.append((5, 10, 1))  # weak bridge
    edf = spark.createDataFrame(edges, "u long, v long, w long")
    m = greedy_matching(edf, max_rounds=8).select("u", "v")
    coarse = coarsen_graph(edf, m)
    lp = label_propagation(
        coarse.select(F.col("cu").alias("src"), F.col("cv").alias("dst")),
        iterations=2,
    )
    mp = m.select(F.col("u").alias("node"), F.least("u", "v").alias("s")).unionByName(
        m.select(F.col("v").alias("node"), F.least("u", "v").alias("s"))
    )
    nodes = (
        edf.select(F.col("u").alias("node"))
        .unionByName(edf.select(F.col("v").alias("node")))
        .distinct()
    )
    part = {
        r["node"]: r["part"]
        for r in nodes.join(mp, "node", "left")
        .select("node", F.coalesce("s", F.col("node")).alias("super"))
        .join(
            lp.select(F.col("node").alias("super"), F.col("label").alias("lbl")),
            "super",
            "left",
        )
        .select("node", F.coalesce("lbl", F.col("super")).alias("part"))
        .collect()
    }
    # every matched pair landed in one part (the multilevel invariant)
    for r in m.collect():
        assert part[r["u"]] == part[r["v"]], (r, part)
    # all 12 nodes assigned
    assert len(part) == 12


def test_isotonic_calibrate_matches_maxmin_formula(spark):
    from chronographer_spark.operators.classifier import isotonic_calibrate
    from fractions import Fraction

    # deterministic noisy-monotone labels over unique scores
    n = 40
    rows = [
        ("g", k * 10, ((k * 7 + 3) % 11 < (k // 4)) * 1, k)
        for k in range(n)
    ]
    df = spark.createDataFrame(
        rows, "grp string, score long, label long, event_id long"
    )
    got = {
        r["i"]: r["cal_x1e6"]
        for r in isotonic_calibrate(df).collect()
    }

    # independent check: the minimax characterization of isotonic L2
    ys = [r[2] for r in sorted(rows, key=lambda r: (r[1], r[3]))]
    want = {}
    for i in range(n):
        best = None
        for j in range(i + 1):
            m = min(
                Fraction(sum(ys[j:k + 1]), k + 1 - j)
                for k in range(i, n)
            )
            best = m if best is None or m > best else best
        want[i + 1] = (best.numerator * 1000000) // best.denominator
    assert got == want
    # monotone nondecreasing in the pinned order
    assert all(got[i] <= got[i + 1] for i in range(1, n))


def test_incremental_cc_daily_append_via_catalog(spark, tmp_path):
    """The full production daily-append loop: store a CC labeling
    partitioned by a node-hash bucket, fold a new alias batch with
    incremental_components(emit="delta"), MERGE the delta partition-pruned
    (pbucket is derived from node, so keys never move partitions), and the
    read-back must equal a cold full recompute."""
    from chronographer_spark.io.catalog import Catalog
    from chronographer_spark.linking.canonicalize import (
        connected_components,
        incremental_components,
    )

    full = [(k, k + 1) for k in range(1, 300) if (k + 1) % 20 != 0]
    batch = [(a, b) for a, b in full if a % 5 == 0 or b % 5 == 0]
    hist = [e for e in full if e not in set(batch)]
    old_nodes = sorted({x for p in hist for x in p})
    all_nodes = sorted({x for p in full for x in p})

    prior = connected_components(
        spark.createDataFrame(hist, "src long, dst long"),
        all_nodes=spark.createDataFrame([(n,) for n in old_nodes], "node long"),
    )
    cat = Catalog(spark, str(tmp_path))
    cat.write(
        prior.withColumn("pbucket", (F.col("node") % 16).cast("int")),
        "cc_labels",
        partition_by=["pbucket"],
    )

    stored = cat.read("cc_labels").select("node", "component")
    delta = incremental_components(
        stored,
        spark.createDataFrame(batch, "src long, dst long"),
        emit="delta",
    ).withColumn("pbucket", (F.col("node") % 16).cast("int"))
    cat.merge_upsert(
        delta, "cc_labels", keys=["node", "pbucket"], partition_col="pbucket"
    )

    got = {
        r["node"]: r["component"]
        for r in cat.read("cc_labels").select("node", "component").collect()
    }
    want = {
        r["node"]: r["component"]
        for r in connected_components(
            spark.createDataFrame(full, "src long, dst long"),
            all_nodes=spark.createDataFrame(
                [(n,) for n in all_nodes], "node long"
            ),
        ).collect()
    }
    assert got == want


def test_pmi_collocations_matches_python_model(spark):
    from chronographer_spark.operators.text import pmi_collocations

    # 'new york' always co-occurs (planted collocation); 'the' pairs with
    # everything (high-frequency glue reads ~0 PMI); singleton pairs fall
    # under min_count
    rows = [(i, "the a new york the b new york the a") for i in range(4)] + [
        (99, "solo pair solo pair solo pair solo pair solo"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["a"], r["b"]): (r["c2"], r["ca"], r["cb"], r["pmi_s16"], r["rnk"])
        for r in pmi_collocations(df, min_count=4, k=10).collect()
    }

    def msb16(q):
        q = min(max(q, 1), 1 << 52)
        lg = q.bit_length() - 1
        return 16 * lg + (q * 16) // (1 << lg) - 16

    c2, ca, cb = {}, {}, {}
    for _, text in rows:
        t = text.split()
        for x, y in zip(t, t[1:]):
            c2[(x, y)] = c2.get((x, y), 0) + 1
            ca[x] = ca.get(x, 0) + 1
            cb[y] = cb.get(y, 0) + 1
    n2 = sum(c2.values())
    want_scored = {
        (x, y): (
            c,
            ca[x],
            cb[y],
            msb16((c * 1048576 // ca[x]) * n2 // cb[y]) - 320,
        )
        for (x, y), c in c2.items()
        if c >= 4
    }
    order = sorted(
        want_scored.items(), key=lambda kv: (-kv[1][3], -kv[1][0], kv[0])
    )
    want = {
        pair: vals + (i + 1,) for i, (pair, vals) in enumerate(order[:10])
    }
    assert got == want
    # collocation ordering: the exclusive pair (solo, pair) outranks the
    # planted (new, york) whose slots also host other partners, which in
    # turn outranks the high-frequency glue (the, a)
    assert (
        got[("solo", "pair")][3]
        > got[("new", "york")][3]
        > got[("the", "a")][3]
    )


def test_mutual_information_matches_python_model(spark):
    from chronographer_spark.operators.text import mutual_information

    # x perfectly determines y on keys a/b; c spreads uniformly over both
    rows = (
        [("a", 0)] * 6 + [("b", 1)] * 6 + [("c", 0)] * 3 + [("c", 1)] * 3
    )
    df = spark.createDataFrame(rows, ["x", "y"])
    got = mutual_information(df, row_col="x", col_col="y").collect()[0]

    def msb16(q):
        q = min(max(q, 1), 1 << 52)
        lg = q.bit_length() - 1
        return 16 * lg + (q * 16) // (1 << lg) - 16

    from collections import Counter

    cells = Counter(rows)
    rm = Counter(x for x, _ in rows)
    cm = Counter(y for _, y in rows)
    n = len(rows)
    mi = sum(
        o * (msb16((o * 1048576 // rm[x]) * n // cm[y]) - 320)
        for (x, y), o in cells.items()
    )
    assert (
        got["n"],
        got["n_row_cats"],
        got["n_col_cats"],
        got["mi_x16n"],
    ) == (n, 3, 2, mi)
    assert got["mi_bits_x1e6"] == mi * 62500 // n
    # dependence reads positive; a uniform-independent table reads ~0
    assert got["mi_bits_x1e6"] > 300000  # H(Y)=1 bit, 3/4 mass informative
    ind = [("a", 0), ("a", 1), ("b", 0), ("b", 1)] * 5
    got0 = mutual_information(
        spark.createDataFrame(ind, ["x", "y"]), row_col="x", col_col="y"
    ).collect()[0]
    assert abs(got0["mi_bits_x1e6"]) < 40000  # quantization floor only


def test_changepoint_scan_matches_bruteforce(spark):
    from chronographer_spark.operators.temporal import changepoint_scan
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    # key 'shift': clean level shift 10.0 -> 20.0 after position 4
    # key 'flat': constant (gmax = 0, earliest split pinned)
    # key 'tie': symmetric spike — two equal-gmax splits, earliest wins
    rows = (
        [("shift", i, t0 + dt.timedelta(hours=i), 10.0) for i in range(4)]
        + [("shift", i, t0 + dt.timedelta(hours=i), 20.0) for i in range(4, 8)]
        + [("flat", i, t0 + dt.timedelta(hours=i), 5.0) for i in range(6)]
        + [
            ("tie", i, t0 + dt.timedelta(hours=i), v)
            for i, v in enumerate([1.0, 9.0, 1.0])
        ]
    )
    df = spark.createDataFrame(rows, ["event_type", "event_id", "ts", "value"])
    got = {
        r["key"]: (r["n"], r["split_i"], r["split_id"], r["gmax"])
        for r in changepoint_scan(df).collect()
    }

    want = {}
    by_key = {}
    for k, i, ts, v in rows:
        by_key.setdefault(k, []).append((ts, i, int(v * 100 + 0.5)))
    for k, seq in by_key.items():
        seq.sort()
        n = len(seq)
        sn = sum(v for _, _, v in seq)
        best = None
        s = 0
        for idx, (_, rid, v) in enumerate(seq[:-1], start=1):
            s += v
            g = abs(n * s - idx * sn)
            if best is None or g > best[3]:
                best = (n, idx, rid, g)
        want[k] = best
    assert got == want
    # the planted shift splits exactly at the boundary; flat reads 0
    assert got["shift"][1] == 4 and got["flat"][3] == 0
    # symmetric spike: both splits read equal g; earliest (i=1) pinned
    assert got["tie"][1] == 1


def test_rake_keywords_matches_python_model(spark):
    from chronographer_spark.operators.text import rake_keywords

    rows = [
        (1, "deep learning of deep learning and neural nets"),
        (2, "the deep learning is neural nets and nets"),
        (3, "deep learning and nets on nets"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["phrase"]: (r["n_words"], r["n_occ"], r["score_x1e6"], r["rnk"])
        for r in rake_keywords(df, max_len=3, min_count=1, k=10).collect()
    }

    from chronographer_spark.operators.text import RAKE_DEFAULT_STOPWORDS

    stop = set(RAKE_DEFAULT_STOPWORDS)
    phrases = []
    for _, text in rows:
        run = []
        for w in text.split() + ["the"]:
            if w in stop:
                if run:
                    phrases.append(tuple(run))
                run = []
            else:
                run.append(w)
    phrases = [p for p in phrases if len(p) <= 3]
    freq, deg = {}, {}
    for p in phrases:
        for w in p:
            freq[w] = freq.get(w, 0) + 1
            deg[w] = deg.get(w, 0) + len(p)
    ws = {w: deg[w] * 1000000 // freq[w] for w in freq}
    from collections import Counter

    occ = Counter(" ".join(p) for p in phrases)
    scored = {
        ph: (len(ph.split()), n, sum(ws[w] for w in ph.split()))
        for ph, n in occ.items()
    }
    order = sorted(
        scored.items(), key=lambda kv: (-kv[1][2], -kv[1][1], kv[0])
    )
    want = {
        ph: vals + (i + 1,) for i, (ph, vals) in enumerate(order[:10])
    }
    assert got == want
    # the recurring collocation outscores the lone glue word: every word
    # of 'deep learning' lives in 2-3-word phrases
    assert got["deep learning"][2] > got["nets"][2]


def test_modularity_score_hand_values(spark):
    from chronographer_spark.operators.graph_algos import modularity_score

    # two 4-cliques joined by one bridge: the clique partition is the
    # textbook high-Q labeling (m=13, e_c=6 each, d_c = 13 and 13)
    cl1 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    cl2 = [(a, b) for a in "efgh" for b in "efgh" if a < b]
    edges = spark.createDataFrame(
        cl1 + cl2 + [("d", "e")], ["src", "dst"]
    )
    lab_good = spark.createDataFrame(
        [(n, "c1") for n in "abcd"] + [(n, "c2") for n in "efgh"],
        ["node", "label"],
    )
    got = modularity_score(edges, lab_good).collect()[0]
    m = 13
    num = sum(4 * m * 6 - 13 * 13 for _ in range(2))
    assert (got["m"], got["n_comms"], got["intra_edges"], got["num"]) == (
        m, 2, 12, num,
    )
    assert got["q_x1e6"] == num * 1000000 // (4 * m * m)  # 286/676 ≈ +0.423
    assert 410000 < got["q_x1e6"] < 440000

    # everything in ONE community reads exactly 0: e_c = m, d_c = 2m
    lab_one = spark.createDataFrame(
        [(n, "all") for n in "abcdefgh"], ["node", "label"]
    )
    assert modularity_score(edges, lab_one).collect()[0]["q_x1e6"] == 0

    # unlabeled nodes fall into the sentinel community rather than
    # vanishing: drop one clique's labels, Q drops but stays defined
    part = modularity_score(edges, lab_good.filter("label = 'c1'")).collect()[0]
    assert part["n_comms"] == 2 and part["m"] == 13

    # anti-aligned labeling (split across the cliques) reads negative
    lab_bad = spark.createDataFrame(
        [(n, "x" if n in "aceg" else "y") for n in "abcdefgh"],
        ["node", "label"],
    )
    assert modularity_score(edges, lab_bad).collect()[0]["q_x1e6"] < 0


def test_modularity_of_label_propagation_beats_metadata_partition(spark):
    """Composition: LP labels on a two-clique graph reach the clique
    partition, whose modularity strictly beats an arbitrary split —
    the evaluate-your-clustering loop a KG pipeline runs."""
    from chronographer_spark.operators.graph_algos import (
        label_propagation,
        modularity_score,
    )

    cl1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    cl2 = [(a + 10, b + 10) for a in range(4) for b in range(4) if a < b]
    edges = spark.createDataFrame(
        cl1 + cl2 + [(3, 10)], ["src", "dst"]
    )
    lp = label_propagation(edges, iterations=3).select(
        F.col("node"), F.col("label")
    )
    q_lp = modularity_score(edges, lp).collect()[0]["q_x1e6"]
    lab_bad = spark.createDataFrame(
        [(n, n % 2) for n in list(range(4)) + list(range(10, 14))],
        ["node", "label"],
    )
    q_bad = modularity_score(edges, lab_bad).collect()[0]["q_x1e6"]
    assert q_lp > 300000 > q_bad


def test_ngram_novelty_hand_values(spark):
    from chronographer_spark.operators.text import ngram_novelty

    rows = [
        (1, "a b c d"),            # shingles: abc, bcd — all new
        (2, "a b c d"),            # exact duplicate -> novelty 0
        (3, "a b c x y z"),        # abc old; bcx, cxy, xyz new -> 3/4
        (4, "p q"),                # < 3 tokens -> dropped
        (5, "a b c a b c"),        # abc old; bca, cab new (distinct) -> 2/3
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_new"], r["novelty_x1e6"])
        for r in ngram_novelty(df, n=3).collect()
    }
    assert got == {
        1: (2, 2, 1000000),
        2: (2, 0, 0),
        3: (4, 3, 750000),
        5: (3, 2, 666666),
    }


def test_degree_assortativity_hand_values(spark):
    from chronographer_spark.operators.graph_algos import (
        assortativity_coefficient as degree_assortativity,
    )

    # star K(1,4): perfectly disassortative, r = -1 exactly
    star = spark.createDataFrame(
        [("h", f"l{i}") for i in range(4)], ["src", "dst"]
    )
    got = degree_assortativity(star).collect()[0]
    assert (got["m"], got["n_nodes"]) == (4, 5)
    assert got["num"] == -got["den"] and got["r_x1e6"] == -1000000

    # 4-cycle: regular graph, den = 0 -> r = 0 by convention
    cyc = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")], ["src", "dst"]
    )
    got = degree_assortativity(cyc).collect()[0]
    assert got["den"] == 0 and got["r_x1e6"] == 0

    # exact Pearson replay on an irregular graph (path + pendant)
    g = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("b", "e")], ["src", "dst"]
    )
    got = degree_assortativity(g).collect()[0]
    deg = {"a": 1, "b": 3, "c": 2, "d": 1, "e": 1}
    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("b", "e")]
    sym = pairs + [(v, u) for u, v in pairs]
    M = len(sym)
    S = sum(deg[u] for u, _ in sym)
    sxy = sum(deg[u] * deg[v] for u, v in sym)
    sxx = sum(deg[u] ** 2 for u, _ in sym)
    num, den = M * sxy - S * S, M * sxx - S * S
    assert (got["num"], got["den"]) == (num, den)
    sgn = -1 if num < 0 else 1
    assert got["r_x1e6"] == sgn * (
        abs(num) // den * 1000000 + abs(num) % den * 1000000 // den
    )


def test_fano_burstiness_hand_values(spark):
    from chronographer_spark.operators.temporal import fano_burstiness
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    # 'burst': 8 events in hour 0, then one event in hour 9 -> span 10
    # 'steady': one event per hour for 6 hours -> IoD = 0 (metronome)
    rows = [("burst", t0 + dt.timedelta(minutes=i)) for i in range(8)] + [
        ("burst", t0 + dt.timedelta(hours=9)),
        *[("steady", t0 + dt.timedelta(hours=h)) for h in range(6)],
    ]
    df = spark.createDataFrame(rows, ["event_type", "ts"])
    got = {
        r["key"]: (
            r["n_buckets_span"],
            r["n_active_buckets"],
            r["n_events"],
            r["sum_sq"],
            r["iod_x1e6"],
        )
        for r in fano_burstiness(df).collect()
    }
    # burst: B=10, T=9, Q=64+1=65 -> (650-81)/90
    num, den = 10 * 65 - 81, 10 * 9
    assert got["burst"] == (
        10, 2, 9, 65,
        num // den * 1000000 + num % den * 1000000 // den,
    )
    assert got["burst"][4] > 6000000  # strongly over-dispersed
    # metronome: B=6, T=6, Q=6 -> (36-36)/36 = 0
    assert got["steady"] == (6, 6, 6, 6, 0)


def test_soundex_key_canonical_examples(spark):
    from chronographer_spark.linking.blocking import soundex_key

    rows = [
        (1, "Robert"), (2, "Rupert"), (3, "Tymczak"), (4, "Pfister"),
        (5, "Honeyman"), (6, "Jackson"), (7, ""), (8, "123"),
        (9, "ashcraft"),  # simplified variant: H breaks the S..C run
    ]
    df = spark.createDataFrame(rows, ["id", "name"])
    got = {r["id"]: r["sdx"] for r in soundex_key(df).collect()}
    assert got == {
        1: "R163", 2: "R163", 3: "T522", 4: "P236", 5: "H555",
        6: "J250", 7: None, 8: None, 9: "A226",
    }
    # the blocking property: spelling variants share a block
    assert got[1] == got[2]


def test_fs_weights_and_scores_match_python_model(spark):
    """Fellegi-Sunter estimation on a hand fixture: u from the exact
    value-frequency closed form (NULLs excluded), m from the seed pass
    (NULL never agrees), weights = msb16 staged quotient - 320; scoring
    sums agree/disagree weights over city-blocked candidates."""
    from chronographer_spark.linking.fs import fs_field_weights, fs_score_pairs

    a_rows = [(1, "NY", 10), (2, "LA", 20), (3, "NY", 30), (4, "SF", 40),
              (5, None, 50)]
    b_rows = [(1, "NY", 10), (2, "LA", 21), (3, "LA", 30), (4, "SF", 40),
              (5, "NY", 50)]
    sch = "id long, city string, zip long"
    a = spark.createDataFrame(a_rows, sch)
    b = spark.createDataFrame(b_rows, sch)
    seed = spark.createDataFrame([(i, i) for i in range(1, 6)],
                                 "a_id long, b_id long")

    # python replica
    def w(mn, md, un, ud):
        q = (mn * 1048576 // max(md, 1)) * ud // max(un, 1)
        return _py_msb16(q) - 320

    na = nb = 5
    u_den = na * nb
    # value-frequency closed form, NULLs excluded
    u_city = 2 * 2 + 1 * 2 + 1 * 1          # NY, LA, SF
    u_zip = 4                                 # zips 10, 30, 40, 50 collide
    m_den = 5
    m_city = 3                                # ids 1, 2, 4 (NULL never agrees)
    m_zip = 4                                 # ids 1, 3, 4, 5
    want = {
        "city": (m_city, m_den, u_city, u_den,
                 w(m_city, m_den, u_city, u_den),
                 w(m_den - m_city, m_den, u_den - u_city, u_den)),
        "zip": (m_zip, m_den, u_zip, u_den,
                w(m_zip, m_den, u_zip, u_den),
                w(m_den - m_zip, m_den, u_den - u_zip, u_den)),
    }
    got = {
        r["field"]: (r["m_num"], r["m_den"], r["u_num"], r["u_den"],
                     r["w_agree_x16"], r["w_disagree_x16"])
        for r in fs_field_weights(a, b, "id", ["city", "zip"], seed).collect()
    }
    assert got == want

    # scoring over city-blocked candidates, exact per-pair replay
    ad = {r[0]: r for r in a_rows}
    bd = {r[0]: r for r in b_rows}
    exp = {}
    for ai, (_, ac, az) in ad.items():
        for bi, (_, bc, bz) in bd.items():
            if ac is None or ac != bc:
                continue
            s, n = 0, 0
            for fld, av, bv in (("city", ac, bc), ("zip", az, bz)):
                mn, _, un, _, wa, wd = want[fld]
                if av is not None and av == bv:
                    s, n = s + wa, n + 1
                else:
                    s += wd
            exp[(ai, bi)] = (n, s)
    got_s = {
        (r["a_id"], r["b_id"]): (r["n_agree"], r["score_x16"])
        for r in fs_score_pairs(
            a, b, "id", ["city", "zip"], seed, block_cols=["city"]
        ).collect()
    }
    assert got_s == exp
    # the true twin outscores the same-block impostor
    assert got_s[(1, 1)][1] > got_s[(3, 1)][1]


def test_no_shadowed_definitions_repo_wide():
    """A later module-level def silently shadows an earlier one (bit
    entry_queries twice and graph_algos.degree_assortativity once —
    different schema, old callers silently repointed). AST-reject
    duplicate module-level def/class names in EVERY package module."""
    import ast
    import pathlib

    import chronographer_spark

    root = pathlib.Path(chronographer_spark.__file__).parent
    bad = {}
    for py in sorted(root.rglob("*.py")):
        from collections import Counter

        tree = ast.parse(py.read_text())
        names = [
            n.name
            for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        ]
        dupes = [n for n, c in Counter(names).items() if c > 1]
        if dupes:
            bad[str(py.relative_to(root))] = dupes
    assert not bad, f"shadowed module-level definitions: {bad}"


def test_influence_seeds_matches_python_replay(spark):
    """Degree-discount seed selection: exact integer scores, discount
    updates after each pick, smallest-node tie pin."""
    from chronographer_spark.operators.graph_algos import influence_seeds

    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (4, 5), (5, 6), (6, 7),
             (7, 4), (3, 8), (8, 9)]
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "src long, dst long"
    )
    PN, PD, K = 1, 10, 4
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    picked, want = [], []
    for r in range(1, K + 1):
        best = None
        for n in sorted(adj):
            if n in picked:
                continue
            d = len(adj[n])
            t = sum(1 for x in adj[n] if x in picked)
            s = d * PD - 2 * t * PD - (d - t) * t * PN
            if best is None or s > best[0] or (s == best[0] and n < best[1]):
                best = (s, n)
        picked.append(best[1])
        want.append((r, best[1], best[0]))
    got = [
        (r["rnk"], r["node"], r["score"])
        for r in influence_seeds(df, k=K, p_num=PN, p_den=PD)
        .orderBy("rnk")
        .collect()
    ]
    assert got == want
    # k > |V| terminates at |V| picks
    assert influence_seeds(df, k=20).count() == 9


def test_merge_inverted_index_equals_full_rebuild(spark):
    """Upsert semantics: re-ingested doc's stale postings dropped, batch
    postings appended; result row-identical to a clean full-corpus build."""
    from chronographer_spark.operators.retrieval import (
        build_inverted_index,
        merge_inverted_index,
    )

    old = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma STALE")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(2, "beta gamma delta"), (3, "alpha delta")], "doc_id long, text string"
    )
    full = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma delta"), (3, "alpha delta")],
        "doc_id long, text string",
    )
    merged = merge_inverted_index(build_inverted_index(old), batch)
    want = build_inverted_index(full)
    assert merged.exceptAll(want).count() == 0
    assert want.exceptAll(merged).count() == 0


def test_louvain_move_round_matches_python_replay(spark):
    """Synchronous Louvain phase-1 round: per-node best strictly-positive
    exact-integer modularity gain vs the old labeling, smallest-label tie
    pin; non-movers emitted with gain 0."""
    from chronographer_spark.operators.graph_algos import louvain_move_round

    edges = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)]
    labels = {1: "a", 2: "a", 3: "b", 4: "b", 5: "b", 6: "c"}
    e = spark.createDataFrame(edges, "src long, dst long")
    lab = spark.createDataFrame(
        [(n, c) for n, c in labels.items()], "node long, label string"
    )
    # python replica
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    m = len(edges)
    k = {n: len(vs) for n, vs in adj.items()}
    sig = {}
    for n, c in labels.items():
        sig[c] = sig.get(c, 0) + k[n]
    want = {}
    for i in sorted(adj):
        a = labels[i]
        kic = {}
        for j in adj[i]:
            kic[labels[j]] = kic.get(labels[j], 0) + 1
        kia = kic.get(a, 0)
        best = None
        for c in sorted(set(kic) - {a}):
            g = 4 * m * (kic[c] - kia) - 2 * k[i] * (sig[c] - sig[a] + k[i])
            if best is None or g > best[0]:
                best = (g, c)
        if best and best[0] > 0:
            want[i] = (a, best[1], best[0])
        else:
            want[i] = (a, a, 0)
    got = {
        r["node"]: (r["old_label"], r["new_label"], r["gain_x"])
        for r in louvain_move_round(e, lab).collect()
    }
    assert got == want
    # sanity: the bridge-misplaced node 3 moves home to 'a'
    assert got[3][1] == "a" and got[3][2] > 0


def test_sprt_decisions_match_python_replay(spark):
    """Wald SPRT per key: cumulative integer LLR walk, first-crossing
    pin (later data cannot un-decide), continue on no crossing."""
    from chronographer_spark.operators.classifier import llr16, sprt_decisions

    s = llr16(3, 2)       # success step, p0=1/3 vs p1=1/2
    f = llr16(3, 4)       # failure step
    up = llr16(95 * 100, 100 * 5)
    lo = -up
    seqs = {
        "hot": [True] * 15,                      # straight to accept_h1
        "cold": [False] * 25,                    # straight to accept_h0
        "short": [True, False] * 3,              # never crosses -> continue
        # crosses h1 then collapses: decision still pinned at first crossing
        "pinned": [True] * 12 + [False] * 60,
    }
    rows = [
        (k, i, v) for k, seq in seqs.items() for i, v in enumerate(seq)
    ]
    df = spark.createDataFrame(rows, "key string, o long, succ boolean")
    want = {}
    for k, seq in seqs.items():
        cum, dec, n = 0, "continue", len(seq)
        for i, v in enumerate(seq, 1):
            cum += s if v else f
            if cum >= up or cum <= lo:
                dec = "accept_h1" if cum >= up else "accept_h0"
                n = i
                break
        else:
            pass
        # final llr for continue keys is the full-walk cum
        if dec == "continue":
            cum = sum(s if v else f for v in seq)
        want[k] = (dec, n, cum)
    got = {
        r["key"]: (r["decision"], r["n_obs"], r["llr_x16"])
        for r in sprt_decisions(df, "key", "o", "succ").collect()
    }
    assert got == want
    assert got["pinned"][0] == "accept_h1"  # immutability of first crossing


def test_bh_select_matches_fraction_replay(spark):
    """BH step-up on exact rationals: Fraction-based replica, tie pin by
    key, no-rejection case, and the step-up property (a later crossing
    rescues all smaller ranks)."""
    from fractions import Fraction

    from chronographer_spark.operators.classifier import bh_select

    # classic step-up shape: rank 1 fails its own bound but rank 4 passes,
    # so ranks 1..4 are all rejected
    rows = [("a", 30, 1000), ("b", 35, 1000), ("c", 36, 1000),
            ("d", 152, 1000), ("e", 900, 1000), ("f", 35, 1000)]
    df = spark.createDataFrame(rows, "key string, p_num long, p_den long")
    an, ad = (40, 100)
    m = len(rows)
    srt = sorted(rows, key=lambda r: (r[1], r[0]))
    istar = 0
    for i, (k, pn, pd) in enumerate(srt, 1):
        if Fraction(pn, pd) <= Fraction(an * i, ad * m):
            istar = i
    want = {
        k: (pn, pd, i, i <= istar)
        for i, (k, pn, pd) in enumerate(srt, 1)
    }
    got = {
        r["key"]: (r["p_num"], r["p_den"], r["rnk"], r["rejected"])
        for r in bh_select(df, "key", "p_num", "p_den", alpha=(an, ad)).collect()
    }
    assert got == want
    assert istar == 5 and got["d"][3] and not got["e"][3]

    # nothing passes -> nothing rejected
    big = spark.createDataFrame(
        [("x", 900, 1000), ("y", 950, 1000)], "key string, p_num long, p_den long"
    )
    got2 = {r["key"]: r["rejected"]
            for r in bh_select(big, "key", "p_num", "p_den", (5, 100)).collect()}
    assert got2 == {"x": False, "y": False}


def test_kaplan_meier_matches_python_replay(spark):
    """KM per key: risk sets count everyone with duration >= t, censored
    rows shrink the risk set without stepping the curve, exhausted risk
    set (S = 0) yields NULL thereafter; log2 curve exact via msb16."""
    from chronographer_spark.operators.temporal import kaplan_meier

    rows = [
        # key a: classic mix of events and censorings
        ("a", 2, 1), ("a", 2, 1), ("a", 3, 0), ("a", 5, 1), ("a", 5, 0),
        ("a", 8, 0),
        # key b: last risk set exhausted -> curve hits exact zero
        ("b", 1, 1), ("b", 4, 1),
    ]
    df = spark.createDataFrame(rows, "key string, t long, obs long")

    def msb16(q):
        q = min(max(q, 1), 1 << 52)
        lg = q.bit_length() - 1
        return 16 * lg + q * 16 // (1 << lg) - 16

    want = {}
    for key in ("a", "b"):
        rs = sorted([(t, o) for k, t, o in rows if k == key])
        times = sorted({t for t, _ in rs})
        cum, dead = 0, False
        for t in times:
            n = sum(1 for tt, _ in rs if tt >= t)
            d = sum(1 for tt, o in rs if tt == t and o == 1)
            c = sum(1 for tt, o in rs if tt == t and o == 0)
            if not dead and d > 0 and n > d:
                cum -= msb16(n * 1048576 // (n - d)) - 320
            if d >= n and d > 0:
                dead = True
            haz = want[(key, times[times.index(t) - 1])][4] if times.index(t) else 0
            haz += d * 1000000 // n
            want[(key, t)] = (n, d, c, None if dead else cum, haz)
    got = {
        (r["key"], r["t"]): (r["n_risk"], r["d"], r["c"], r["log2_surv_x16"],
                             r["cumhaz_x1e6"])
        for r in kaplan_meier(df, "key", "t", "obs").collect()
    }
    assert got == want
    assert got[("b", 4)][3] is None  # exhausted risk set -> exact zero


def test_logrank_test_matches_python_replay(spark):
    """Two-group log-rank: hypergeometric E1/V accumulated as staged
    integer quotients, msb16 chi-square emit; separated groups read far
    above a balanced null."""
    from chronographer_spark.operators.temporal import logrank_test

    rows = [
        # key sep: group 1 dies early, group 0 late
        *[("sep", t, 1, 1) for t in (1, 2, 3, 4)],
        *[("sep", t, 1, 0) for t in (10, 11, 12, 13)],
        ("sep", 9, 0, 1), ("sep", 14, 0, 0),
        # key null: interleaved identical survival
        *[("null", t, 1, t % 2) for t in range(1, 9)],
    ]
    df = spark.createDataFrame(rows, "key string, t long, obs long, g long")

    def msb16(q):
        q = min(max(q, 1), 1 << 52)
        lg = q.bit_length() - 1
        return 16 * lg + q * 16 // (1 << lg) - 16

    want = {}
    for key in ("sep", "null"):
        rs = [(t, o, g) for k, t, o, g in rows if k == key]
        times = sorted({t for t, _, _ in rs})
        o1 = e1 = v = 0
        for t in times:
            n0 = sum(1 for tt, _, g in rs if tt >= t and g == 0)
            n1 = sum(1 for tt, _, g in rs if tt >= t and g == 1)
            d0 = sum(1 for tt, o, g in rs if tt == t and o and g == 0)
            d1 = sum(1 for tt, o, g in rs if tt == t and o and g == 1)
            dt, nt = d0 + d1, n0 + n1
            o1 += d1
            if dt > 0:
                e1 += dt * n1 * 1000000 // nt
                if nt > 1:
                    v += ((dt * n1 * 1000 // nt) * n0 * 1000 // nt) \
                        * (nt - dt) // (nt - 1)
        a = abs(o1 * 1000000 - e1)
        z2 = 2 * msb16(a) - msb16(max(v, 1)) - 318
        want[key] = (o1, e1, v, o1 * 1000000 - e1, z2)
    got = {
        r["key"]: (r["o1"], r["e1_x1e6"], r["v_x1e6"], r["diff_x1e6"],
                   r["z2_log2_x16"])
        for r in logrank_test(df, "key", "t", "obs", "g").collect()
    }
    assert got == want
    assert got["sep"][4] > 31 > got["null"][4]  # 16*log2(3.84) ~ 31


def test_rouge_n_scores_hand_values(spark):
    """Clipped ROUGE-2: repeated grams clip at the reference count,
    verbatim pair reads exactly 1e6, empty candidate reads 0."""
    from chronographer_spark.operators.text import rouge_n_scores

    rows = [
        (1, "the cat sat on the mat", "the cat sat on the mat"),
        (2, "a b c d", "a b x d"),            # bigrams: only 'a b' matches
        (3, "a b a b a b", "a b a b"),        # clipped repeat grams
        (4, "x y z", ""),                      # empty candidate
        (5, "w", "w"),                         # ref too short -> no row
    ]
    df = spark.createDataFrame(rows, "id long, ref string, cand string")
    got = {
        r["id"]: (r["ref_grams"], r["cand_grams"], r["overlap"],
                  r["p_x1e6"], r["r_x1e6"], r["f1_x1e6"])
        for r in rouge_n_scores(df, "id", "ref", "cand", n=2).collect()
    }
    assert 5 not in got
    assert got[1] == (5, 5, 5, 1000000, 1000000, 1000000)
    # id 2: ref bigrams {ab,bc,cd}, cand {ab,bx,xd} -> overlap 1
    assert got[2] == (3, 3, 1, 333333, 333333, 333333)
    # id 3: ref {ab:3, ba:2}, cand {ab:2, ba:1} -> overlap min-sum = 3
    assert got[3] == (5, 3, 3, 1000000, 600000, 750000)
    assert got[4] == (2, 0, 0, 0, 0, 0)


def test_bleu_log2_hand_values(spark):
    """BLEU in 16*log2 units: perfect pair reads 0, short verbatim prefix
    pays exactly the brevity penalty, disjoint candidate floors at
    -320 per order."""
    from chronographer_spark.operators.text import bleu_log2

    rows = [
        (1, "a b c d e f g h", "a b c d e f g h"),
        (2, "a b c d e f g h", "a b c d"),     # verbatim half
        (3, "a b c d e f g h", "p q r s t u v w"),  # disjoint
    ]
    df = spark.createDataFrame(rows, "id long, ref string, cand string")
    got = {
        r["id"]: (r["ref_len"], r["cand_len"], r["bleu_log2_x16"])
        for r in bleu_log2(df, "id", "ref", "cand", max_n=4).collect()
    }
    assert got[1] == (8, 8, 0)
    # id 2: all clipped precisions are 1 (verbatim prefix) -> lpsum 0;
    # bp = -((8-4)*23 DIV 4) = -23
    assert got[2] == (8, 4, -23)
    # id 3: every order floors at -320, equal length -> no bp
    assert got[3] == (8, 8, -320)


def test_control_chart_flags_match_python_replay(spark):
    """Shewhart + WE run rule: frozen first-half baseline, cross-multiplied
    3-sigma test (no sqrt), 9-run side rule; zero-variance baseline flags
    any deviation."""
    from chronographer_spark.operators.temporal import control_chart_flags

    seq_a = [10, 12, 8, 11, 9, 10, 12, 8, 11, 9,        # baseline-ish
             10, 11, 9, 12, 80,                          # spike -> rule1
             11, 11, 11, 11, 11, 11, 11, 11, 11]         # 9-run above mean?
    rows = [("a", i, v) for i, v in enumerate(seq_a)]
    rows += [("flat", i, 5) for i in range(6)] + [("flat", 6, 7)]
    df = spark.createDataFrame(rows, "key string, o long, x long")

    want = {}
    for key in ("a", "flat"):
        pts = sorted((o, x) for k, o, x in rows if k == key)
        half = len(pts) // 2
        base = [x for _, x in pts[:half]]
        n, s, q = len(base), sum(base), sum(x * x for x in base)
        sides = []
        for o, x in pts:
            dev = n * x - s
            side = 1 if dev > 0 else (-1 if dev < 0 else 0)
            sides.append(side)
            r1 = dev * dev > 9 * (n * q - s * s)
            last9 = sides[-9:]
            r2 = len(last9) >= 9 and len(set(last9)) == 1 and side != 0
            want[(key, o)] = (x, side, r1, r2)
    got = {
        (r["key"], r["o"]): (r["x"], r["side"], r["rule1"], r["rule2"])
        for r in control_chart_flags(df, "key", "o", "x").collect()
    }
    assert got == want
    assert got[("a", 14)][2]                      # the spike trips 3-sigma
    assert any(v[3] for k, v in got.items() if k[0] == "a")   # run rule fires
    assert got[("flat", 6)][2]                    # zero-variance baseline


def test_ams_f2_matches_python_replay(spark):
    """AMS sketch: md5 signs, group means via DIV, pinned lower median —
    exact replay; Z vectors are shard-mergeable by construction (sign
    depends only on the value)."""
    import hashlib

    from chronographer_spark.operators.sketches import ams_f2

    vals = [1] * 20 + [2] * 10 + [3] * 5 + list(range(10, 30))
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    K = 16

    def sign(j, v):
        h = hashlib.md5(f"ams:{j}:{v}".encode()).hexdigest()[:8]
        return 1 if int(h, 16) % 2 == 0 else -1

    z = [sum(sign(j, v) for v in vals) for j in range(K)]
    gms = sorted(
        (sum(x * x for x in z[g * 4:(g + 1) * 4]) // 4, g)
        for g in range(K // 4)
    )
    want = gms[(K // 4 + 1) // 2 - 1][0]
    row = ams_f2(df, "v", k=K).collect()[0]
    assert (row["k"], row["f2_est"]) == (K, want)


def test_dq_run_checks_and_referential(spark):
    """Declarative DQ: single-pass metrics exact to the row counts,
    mixed verdicts, NULL fk counts as an orphan."""
    from chronographer_spark.operators.dq import referential_check, run_checks

    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", -5), (3, None, 20), (3, "a", 30)],
        "id long, cat string, v long",
    )
    checks = [
        ("completeness", "cat", None, 1000000),     # 3/4 -> fail
        ("uniqueness", "id", None, 1000000),        # 3/4 -> fail
        ("in_set", "cat", ["a", "b"], 750000),      # 3/4 -> pass
        ("in_range", "v", (0, 25), 500000),         # 2/4 -> pass
        ("non_negative", "v", None, 1000000),       # 3/4 -> fail
    ]
    got = {
        (r["check"], r["column"]): (r["metric_x1e6"], r["passed"])
        for r in run_checks(df, checks).collect()
    }
    assert got[("completeness", "cat")] == (750000, False)
    assert got[("uniqueness", "id")] == (750000, False)
    assert got[("in_set", "cat")] == (750000, True)
    assert got[("in_range", "v")] == (500000, True)
    assert got[("non_negative", "v")] == (750000, False)

    dim = spark.createDataFrame([(1,), (2,)], "pk long")
    fact = spark.createDataFrame([(1,), (2,), (9,), (None,)], "fk long")
    row = referential_check(fact, "fk", dim, "pk").collect()[0]
    assert (row["n_rows"], row["n_orphans"], row["metric_x1e6"]) == (4, 2, 500000)


def test_haar_energy_matches_python_replay(spark):
    """Unnormalized Haar: detail = left-half minus right-half block sums
    at each scale; constant series loads zero detail energy at every
    covered level; replica exact."""
    from chronographer_spark.operators.temporal import haar_energy

    rows = [("sig", i, v) for i, v in enumerate([4, 0, 4, 0, 4, 0, 4, 0])]
    rows += [("flat", i, 7) for i in range(8)]
    df = spark.createDataFrame(rows, "key string, idx long, v long")
    L = 3

    want = {}
    for key in ("sig", "flat"):
        pts = {i: v for k, i, v in rows if k == key}
        for lv in range(1, L + 1):
            dets = {}
            for i, v in pts.items():
                b = i // (1 << lv)
                s = 1 if (i // (1 << (lv - 1))) % 2 == 0 else -1
                dets[b] = dets.get(b, 0) + s * v
            want[(key, lv)] = (
                len(dets),
                sum(1 for d in dets.values() if d != 0),
                sum(d * d for d in dets.values()),
            )
    got = {
        (r["key"], r["level"]): (r["n_blocks"], r["nonzero_blocks"],
                                 r["energy"])
        for r in haar_energy(df, "key", "idx", "v", levels=L).collect()
    }
    assert got == want
    # alternating signal: all energy at the finest level
    assert got[("sig", 1)][2] == 4 * 16 and got[("sig", 2)][2] == 0
    assert all(got[("flat", lv)][2] == 0 for lv in range(1, L + 1))


def test_stable_matching_is_proposer_optimal_and_stable(spark):
    """Synchronous deferred acceptance equals SEQUENTIAL textbook GS
    (proposer-optimal matching is unique — McVitie-Wilson), the result
    has no blocking pair, and truncated lists leave losers unmatched."""
    from chronographer_spark.linking.matching import stable_matching

    # shared scores; ties broken (score desc, other-id asc) on both sides
    pairs = [
        (1, "x", 30), (1, "y", 20), (1, "z", 10),
        (2, "x", 25), (2, "y", 35),
        (3, "x", 30), (3, "z", 40),
        (4, "x", 5),                     # only choice, will lose x
    ]
    df = spark.createDataFrame(pairs, "p long, a string, score long")

    # sequential GS replica (process lowest free proposer first)
    prefs = {}
    score = {}
    for p, a, s in pairs:
        prefs.setdefault(p, []).append((-s, a))
        score[(p, a)] = s
    for p in prefs:
        prefs[p] = [a for _, a in sorted(prefs[p])]
    ptr = {p: 0 for p in prefs}
    held = {}
    while True:
        free = [p for p in sorted(prefs)
                if p not in held.values() and ptr[p] < len(prefs[p])]
        if not free:
            break
        p = free[0]
        a = prefs[p][ptr[p]]
        cur = held.get(a)
        if cur is None:
            held[a] = p
        elif (-score[(cur, a)], cur) > (-score[(p, a)], p):
            held[a] = p
            ptr[cur] += 1
        else:
            ptr[p] += 1
    got = {
        r["p"]: r["a"]
        for r in stable_matching(df, rounds=10).collect()
        if r["a"] is not None
    }
    want = {p: a for a, p in held.items()}
    assert got == want
    # stability: no blocking pair among candidate pairs
    inv = {a: p for p, a in got.items()}
    for p, a, s in pairs:
        if got.get(p) == a:
            continue
        p_better = got.get(p) is None or s > score[(p, got[p])]
        cur = inv.get(a)
        a_better = cur is None or s > score[(cur, a)]
        assert not (p_better and a_better), f"blocking pair {(p, a)}"
    assert 4 not in got  # truncated list exhausted -> unmatched


def test_robust_forensic_stats_match_python(spark):
    """Trimmed/winsorized means, Gini, Benford: exact replicas on hand
    fixtures including an outlier the trimmed mean ignores, a one-whale
    Gini, and a perfect-Benford-count population reading chi2 ~ 0."""
    from chronographer_spark.operators.classifier import (
        BENFORD_PERMILLE,
        benford_profile,
        gini_coefficient,
        trimmed_stats,
    )

    vals = [1, 2, 3, 4, 5, 6, 7, 8, 9, 1000]   # n=10, k=1
    df = spark.createDataFrame([("a", v) for v in vals], "key string, v long")
    r = trimmed_stats(df, "key", "v", 1, 10).collect()[0]
    s, ts = sum(vals), sum(vals[1:9])
    assert (r["n"], r["k_trim"]) == (10, 1)
    assert r["mean_x1e6"] == s // 10 * 10**6 + s % 10 * 10**6 // 10
    assert r["trimmed_mean_x1e6"] == ts // 8 * 10**6 + ts % 8 * 10**6 // 8
    wsum = ts + 1 * (vals[1] + vals[8])
    assert r["winsor_mean_x1e6"] == wsum // 10 * 10**6 + wsum % 10 * 10**6 // 10
    assert r["trimmed_mean_x1e6"] < r["mean_x1e6"] // 10  # outlier gone

    g = spark.createDataFrame(
        [("even", 5), ("even", 5), ("even", 5), ("even", 5),
         ("whale", 1), ("whale", 1), ("whale", 1), ("whale", 97)],
        "key string, v long",
    )
    got = {r["key"]: r["gini_x1e6"]
           for r in gini_coefficient(g, "key", "v").collect()}
    assert got["even"] == 0
    n, tot = 4, 100
    ix = 1 * 1 + 2 * 1 + 3 * 1 + 4 * 97
    num, den = 2 * ix - (n + 1) * tot, n * tot
    assert got["whale"] == num // den * 10**6 + num % den * 10**6 // den

    # population whose counts exactly mirror the per-mille table
    rows = []
    for d, p in enumerate(BENFORD_PERMILLE, start=1):
        rows += [("nat", d * 10)] * p
    b = spark.createDataFrame(rows, "key string, v long")
    out = benford_profile(b, "key", "v").collect()
    assert all(r["chi2_x1000"] == 0 for r in out)
    got_d = {r["digit"]: r["observed"] for r in out}
    assert got_d == {d: p for d, p in enumerate(BENFORD_PERMILLE, start=1)}


def test_normalize_urls_canonical_cases(spark):
    """URL canonicalization contract: case, default ports, fragments,
    tracking params, param sort, trailing slash; non-default ports kept;
    non-URLs pass through flagged."""
    from chronographer_spark.operators.text import normalize_urls

    rows = [
        (1, "HTTPS://WWW.Example.COM:443/Shop/Items/?utm_source=x&b=2&a=1#f"),
        (2, "http://example.com:80/"),
        (3, "https://www.example.com/shop/items?a=1&b=2"),
        (4, "not a url"),
        (5, "http://sub.shop.example.co:8080/a/b/c?z=9&utm_campaign=s&y=8"),
        (6, "https://www.example.com/Shop/Items?a=1&b=2"),
    ]
    got = {
        r["id"]: (r["url_norm"], r["is_url"], r["host"], r["domain"],
                  r["path_depth"], r["n_params"])
        for r in normalize_urls(
            spark.createDataFrame(rows, "id long, url string")
        ).collect()
    }
    assert got[1] == ("https://www.example.com/Shop/Items?a=1&b=2", True,
                      "www.example.com", "example.com", 2, 2)
    assert got[1][0] == got[6][0]          # disguises collapse
    assert got[2] == ("http://example.com/", True, "example.com",
                      "example.com", 0, 0)
    assert got[3][0] == "https://www.example.com/shop/items?a=1&b=2"
    assert got[4] == ("not a url", False, None, None, 0, 0)
    # non-default port preserved; params sorted, tracking dropped
    assert got[5][0] == "http://sub.shop.example.co:8080/a/b/c?y=8&z=9"


def test_welch_t_matches_python_replay(spark):
    """Welch t^2 in 16*log2 units: staged means/variance terms replayed
    exactly; separated groups read high, identical groups degenerate."""
    from chronographer_spark.operators.classifier import welch_t

    rows = [("sep", 0, v) for v in (10, 12, 11, 13, 9)]
    rows += [("sep", 1, v) for v in (30, 29, 31, 28, 32)]
    rows += [("flat", 0, 5), ("flat", 0, 5), ("flat", 1, 5), ("flat", 1, 5)]
    rows += [("tiny", 0, 1), ("tiny", 1, 2)]
    df = spark.createDataFrame(rows, "key string, g long, v long")

    def msb16(q):
        q = min(max(q, 1), 1 << 52)
        lg = q.bit_length() - 1
        return 16 * lg + q * 16 // (1 << lg) - 16

    def stage(a, t, k):
        return a // t * k + a % t * k // t

    want = {}
    for key in ("sep", "flat", "tiny"):
        g0 = [v for k, g, v in rows if k == key and g == 0]
        g1 = [v for k, g, v in rows if k == key and g == 1]
        n0, n1 = len(g0), len(g1)
        s0, s1 = sum(g0), sum(g1)
        q0, q1 = sum(v * v for v in g0), sum(v * v for v in g1)
        m0, m1 = stage(s0, n0, 10**6), stage(s1, n1, 10**6)
        t2 = None
        vsum = (n0 * q0 - s0 * s0) + (n1 * q1 - s1 * s1)
        if n0 >= 2 and n1 >= 2 and vsum > 0:
            d0 = stage(n0 * q0 - s0 * s0, n0 * n0 * (n0 - 1), 10**6)
            d1 = stage(n1 * q1 - s1 * s1, n1 * n1 * (n1 - 1), 10**6)
            t2 = 2 * msb16(abs(m1 - m0)) - msb16(max(d0 + d1, 1)) - 320
        want[key] = (n0, n1, m0, m1, m1 - m0, t2)
    got = {
        r["key"]: (r["n0"], r["n1"], r["mean0_x1e6"], r["mean1_x1e6"],
                   r["d_x1e6"], r["t2_log2_x16"])
        for r in welch_t(df, "key", "g", "v").collect()
    }
    assert got == want
    assert got["sep"][5] > 31          # clearly separated
    assert got["flat"][5] is None      # zero variance -> degenerate
    assert got["tiny"][5] is None      # n < 2


def test_categorical_drift_kl_matches_python_replay(spark):
    """KL/JS drift: exact msb16 staged replica; identical distributions
    read within the quantization band of zero, a planted category swap
    reads strongly positive."""
    from chronographer_spark.operators.classifier import categorical_drift_kl

    rows = []
    # key 'same': identical ref/cur distributions
    for side in (0, 1):
        rows += [("same", c, side) for c in "aabbc"]
    # key 'shift': cur collapses onto 'z'
    rows += [("shift", c, 0) for c in "aabbc"]
    rows += [("shift", "z", 1)] * 5
    df = spark.createDataFrame(rows, "key string, cat string, side long")

    def msb16(q):
        q = min(max(q, 1), 1 << 52)
        lg = q.bit_length() - 1
        return 16 * lg + q * 16 // (1 << lg) - 16

    def stage(a, t):
        return a // t * 1000 + a % t * 1000 // t

    want = {}
    for key in ("same", "shift"):
        sub = [(c, s) for k, c, s in rows if k == key]
        cats = sorted({c for c, _ in sub})
        v = len(cats)
        cp = {c: sum(1 for cc, s in sub if cc == c and s == 0) for c in cats}
        cq = {c: sum(1 for cc, s in sub if cc == c and s == 1) for c in cats}
        np_, nq = sum(cp.values()), sum(cq.values())
        aa, bb = np_ + v, nq + v
        pq = qp = pm = qm = 0
        for c in cats:
            a, b = cp[c] + 1, cq[c] + 1
            pq += a * (msb16((a * 1048576 // aa) * bb // b) - 320)
            qp += b * (msb16((b * 1048576 // bb) * aa // a) - 320)
            pm += a * (msb16((2 * a * bb * 1048576) // (a * bb + b * aa)) - 320)
            qm += b * (msb16((2 * b * aa * 1048576) // (a * bb + b * aa)) - 320)
        want[key] = (v, np_, nq, stage(pq, aa), stage(qp, bb),
                     (stage(pm, aa) + stage(qm, bb)) // 2)
    got = {
        r["key"]: (r["v_support"], r["n_ref"], r["n_cur"],
                   r["kl_pq_x16e3"], r["kl_qp_x16e3"], r["js_x16e3"])
        for r in categorical_drift_kl(df, "key", "cat", "side").collect()
    }
    assert got == want
    assert abs(got["same"][3]) < 2000          # quantization band of zero
    assert got["shift"][3] > 10000             # strong drift


def test_hill_tail_index_matches_python_replay(spark):
    """Hill estimator: msb16 log terms over the top-k against x_(k+1),
    exact replica; inverse-rank construction reads alpha ~ 1; short keys
    emit nothing; near-constant tail saturates at the cap."""
    from chronographer_spark.operators.temporal import hill_tail_index

    rows = [("par", 10_000_000 // i) for i in range(1, 40)]
    rows += [("flat", 1000)] * 30
    rows += [("short", v) for v in (5, 4, 3)]
    df = spark.createDataFrame(rows, "key string, v long")
    K = 20

    def msb16(q):
        q = min(max(q, 1), 1 << 52)
        lg = q.bit_length() - 1
        return 16 * lg + q * 16 // (1 << lg) - 16

    want = {}
    for key in ("par", "flat"):
        vs = sorted((v for k2, v in rows if k2 == key), reverse=True)
        if len(vs) < K + 1:
            continue
        xk1 = vs[K]
        s = sum(msb16(v * 1048576 // xk1) - 320 for v in vs[:K])
        h = s // K * 1000 + s % K * 1000 // K
        want[key] = (K, xk1, h, 23083000 // max(h, 1))
    got = {
        r["key"]: (r["k"], r["x_k1"], r["hill_log2_x16e3"], r["alpha_x1e3"])
        for r in hill_tail_index(df, "key", "v", k=K).collect()
    }
    assert got == want
    assert "short" not in got
    assert 800 <= got["par"][3] <= 1400        # alpha ~ 1 power law
    assert got["flat"][2] == 0                 # saturated: no tail


def test_bradley_terry_matches_python_replay(spark):
    """BT via 2 pinned MM rounds: exact staged replica, dominance order
    recovered, zero-comparison items absent."""
    from chronographer_spark.operators.classifier import bradley_terry

    wins = [("A", "B", 8), ("B", "A", 2), ("B", "C", 7), ("C", "B", 3),
            ("A", "C", 9), ("C", "A", 1)]
    df = spark.createDataFrame(wins, "a string, b string, w long")

    w_ab = {}
    for a, b, w in wins:
        w_ab[(a, b)] = w_ab.get((a, b), 0) + w
    items = sorted({x for ab in w_ab for x in ab})
    n_ab = {
        (a, b): w_ab.get((a, b), 0) + w_ab.get((b, a), 0)
        for a in items for b in items if a != b
    }
    W = {a: sum(w for (x, _), w in w_ab.items() if x == a) for a in items}
    NC = {a: sum(n for (x, _), n in n_ab.items() if x == a) for a in items}
    g = {a: 10**6 for a in items}
    n_items = len(items)
    for _ in range(2):
        denom = {
            a: sum(
                n_ab[(a, b)] * 10**12 // (g[a] + g[b])
                for b in items if b != a and n_ab[(a, b)] > 0
            )
            for a in items
        }
        raw = {a: (W[a] * 10**12 // denom[a] if denom[a] > 0 else 0)
               for a in items}
        gsum = sum(raw.values())
        g = {a: (raw[a] * 10**6 // gsum) * n_items if gsum else 0
             for a in items}
    got = {
        r["item"]: (r["wins"], r["n_comp"], r["gamma_x1e6"])
        for r in bradley_terry(df, rounds=2).collect()
    }
    assert got == {a: (W[a], NC[a], g[a]) for a in items}
    assert got["A"][2] > got["B"][2] > got["C"][2]


def test_frequent_triples_matches_bruteforce(spark):
    """Apriori triples equal brute-force triple enumeration at the same
    support; pruning property (candidates only from frequent pairs)
    verified by an infrequent-pair blocker; all-confidence exact."""
    from itertools import combinations

    from chronographer_spark.operators.baskets import frequent_triples

    baskets = {
        1: ["x", "y", "z"], 2: ["x", "y", "z"], 3: ["x", "y", "z"],
        4: ["x", "y", "w"], 5: ["x", "z", "w"], 6: ["y", "z", "w"],
        7: ["x", "y"], 8: ["q", "r"],  # q,r never frequent
    }
    rows = [(bk, it) for bk, its in baskets.items() for it in its]
    df = spark.createDataFrame(rows, "basket_id long, item string")
    MS = 2

    item_n = {}
    for its in baskets.values():
        for it in set(its):
            item_n[it] = item_n.get(it, 0) + 1
    want = {}
    all_items = sorted(item_n)
    for tri in combinations(all_items, 3):
        sup = sum(1 for its in baskets.values() if set(tri) <= set(its))
        if sup >= MS:
            mx = max(item_n[t] for t in tri)
            want[tri] = (sup, mx, sup * 10**6 // mx)
    got = {
        (r["a"], r["b"], r["c"]): (r["support"], r["max_item_n"],
                                   r["all_conf_x1e6"])
        for r in frequent_triples(df, min_support=MS).collect()
    }
    assert got == want
    assert ("x", "y", "z") in got and got[("x", "y", "z")][0] == 3


def test_greedy_max_coverage_matches_python_replay(spark):
    """Greedy max-coverage: exact marginal-gain replay with smallest-item
    tie pin; early stop when nothing new remains; beats a same-k
    top-by-size pick on total coverage for the overlap fixture."""
    from chronographer_spark.operators.sampling import greedy_max_coverage

    sets = {
        1: {"a", "b", "c", "d"},
        2: {"a", "b", "c"},          # big but redundant with 1
        3: {"e", "f"},
        4: {"g"},
        5: {"a", "e"},
    }
    rows = [(i, e) for i, es in sets.items() for e in es]
    df = spark.createDataFrame(rows, "item long, element string")
    K = 3

    covered, picked, want = set(), [], []
    for r in range(1, K + 1):
        best = None
        for i in sorted(sets):
            if i in picked:
                continue
            m = len(sets[i] - covered)
            if best is None or m > best[0] or (m == best[0] and i < best[1]):
                best = (m, i)
        if best[0] == 0:
            break
        want.append((r, best[1], best[0]))
        picked.append(best[1])
        covered |= sets[best[1]]
    got = [
        (r["rnk"], r["item"], r["marginal"])
        for r in greedy_max_coverage(df, K).orderBy("rnk").collect()
    ]
    assert got == want
    assert [i for _, i, _ in got] == [1, 3, 4]   # not the size-ordered 1,2,...
    # exhausted universe stops early
    tiny = spark.createDataFrame([(1, "x"), (2, "x")], "item long, element string")
    assert greedy_max_coverage(tiny, 5).count() == 1


def test_good_turing_matches_python_replay(spark):
    """GT count-of-counts: exact r* staged quotients, NULL where the next
    class is empty, unseen mass = N1/N on every row."""
    from chronographer_spark.operators.text import good_turing

    docs = ["a a a b b c", "c d e", "f f b"]
    df = spark.createDataFrame([(d,) for d in docs], "text string")
    toks = " ".join(docs).split()
    from collections import Counter

    vocab = Counter(toks)
    coc = Counter(vocab.values())
    N = sum(vocab.values())
    n1 = coc.get(1, 0)
    want = {}
    for r in coc:
        nxt = coc.get(r + 1)
        rstar = (r + 1) * nxt * 10**6 // coc[r] if nxt else None
        want[r] = (coc[r], rstar, n1 * 10**6 // N)
    got = {
        row["r"]: (row["n_r"], row["r_star_x1e6"], row["unseen_x1e6"])
        for row in good_turing(df).collect()
    }
    assert got == want
    assert got[1][1] is not None and got[3][1] is None  # gap above r=3


def _tiny_tx(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # conv a: 3 turns, one tool turn
        ("a", 0, "user", "hello there world", "", t0),
        ("a", 1, "assistant", "hi back", "", t0 + dt.timedelta(minutes=1)),
        ("a", 2, "tool", "ok result", "search", t0 + dt.timedelta(minutes=2)),
        # conv b: single turn
        ("b", 0, "user", "one two three four five", "", t0),
    ]
    return spark.createDataFrame(
        rows, ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )


def test_chat_render_order_and_tags(spark):
    """Render is turn-ordered regardless of physical order; tool turns get
    the tool:NAME tag; n_chars counts the rendered string."""
    from chronographer_spark.operators.dialogue import chat_render

    tx = _tiny_tx(spark).orderBy(F.desc("turn_idx"))  # scrambled input
    got = {r.conv_id: r for r in chat_render(tx).collect()}
    want_a = "<|user|>hello there world\n<|assistant|>hi back\n<|tool:search|>ok result"
    assert got["a"].rendered == want_a
    assert got["a"].n_turns == 3 and got["a"].n_chars == len(want_a)
    assert got["b"].rendered == "<|user|>one two three four five"


def test_context_tail_budget_suffix(spark):
    """Budget=5: conv a keeps its last two turns (2+3 <= 5, +3 more busts);
    conv b's single 5-token turn exactly fits."""
    from chronographer_spark.operators.dialogue import context_tail

    got = {
        r.conv_id: r
        for r in context_tail(_tiny_tx(spark), budget_tokens=5).collect()
    }
    a = got["a"]
    assert (a.n_turns, a.total_tokens, a.kept_turns, a.kept_tokens) == (3, 7, 2, 4)
    assert a.first_kept_idx == 1
    b = got["b"]
    assert (b.kept_turns, b.kept_tokens, b.first_kept_idx) == (1, 5, 0)
    # budget smaller than the final turn alone -> nothing kept, NULL index
    tight = {
        r.conv_id: r
        for r in context_tail(_tiny_tx(spark), budget_tokens=1).collect()
    }
    assert tight["a"].kept_turns == 0 and tight["a"].first_kept_idx is None


def test_latest_wins_compact_picks_latest(spark):
    """Duplicate (conv, turn) slots collapse to the max-ts attempt with the
    attempt count reported; unique slots pass through with n_attempts=1."""
    import datetime as dt

    from chronographer_spark.operators.dialogue import latest_wins_compact

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("c", 0, "user", "try one", "", t0),
        ("c", 0, "user", "try two", "", t0 + dt.timedelta(seconds=30)),
        ("c", 1, "assistant", "answer", "", t0 + dt.timedelta(minutes=1)),
        # same ts tie -> lexicographically larger text wins (deterministic)
        ("d", 0, "user", "alpha", "", t0),
        ("d", 0, "user", "beta", "", t0),
    ]
    tx = spark.createDataFrame(
        rows, ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    got = {(r.conv_id, r.turn_idx): r for r in latest_wins_compact(tx).collect()}
    assert len(got) == 3
    assert got[("c", 0)].text == "try two" and got[("c", 0)].n_attempts == 2
    assert got[("c", 1)].n_attempts == 1
    assert got[("d", 0)].text == "beta"


def test_multiclass_report_counts_and_summaries(spark):
    """Per-class tp/fp/fn from a hand confusion; macro = mean of scaled
    scores with never-predicted classes contributing 0; micro = global."""
    from chronographer_spark.operators.classifier import multiclass_report

    # y, yhat pairs: a:3 (2 right), b:2 (1 right, 1 -> a), c:1 (-> a, never predicted)
    rows = [("a", "a"), ("a", "a"), ("a", "b"), ("b", "b"), ("b", "a"), ("c", "a")]
    df = spark.createDataFrame(rows, ["y", "yhat"])
    got = {r.cls: r for r in multiclass_report(df, "y", "yhat").collect()}
    assert (got["a"].tp, got["a"].fp, got["a"].fn) == (2, 2, 1)
    assert (got["b"].tp, got["b"].fp, got["b"].fn) == (1, 1, 1)
    assert (got["c"].tp, got["c"].fp, got["c"].fn) == (0, 0, 1)
    assert got["a"].prec_x1e6 == 2 * 10**6 // 4
    assert got["c"].prec_x1e6 == 0 and got["c"].f1_x1e6 == 0
    macro = got["__macro__"]
    assert macro.prec_x1e6 == (got["a"].prec_x1e6 + got["b"].prec_x1e6) // 3
    micro = got["__micro__"]
    assert (micro.tp, micro.fp, micro.fn) == (3, 3, 3)
    assert micro.prec_x1e6 == 3 * 10**6 // 6 == micro.rec_x1e6


def test_multinomial_nb_python_replay(spark):
    """NB scores replayed token-for-token with the integer msb16 device on
    a two-class corpus; held-out docs get the obvious class."""
    from chronographer_spark.operators.classifier import (
        _msb16_int,
        multinomial_nb,
    )

    rows = [
        (1, "x", "cat cat purr"),
        (2, "x", "cat purr whiskers"),
        (3, "y", "dog bark woof"),
        (4, "y", "dog woof fetch"),
        (0, "x", "cat purr"),          # held out (id % 5 == 0)
        (5, "y", "dog bark"),          # held out
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    got = {r.doc_id: r for r in multinomial_nb(df, test_mod=5).collect()}
    assert got[0].pred_cls == "x" and got[0].correct == 1
    assert got[5].pred_cls == "y" and got[5].correct == 1
    # exact replay of doc 0's winning score: train x-tokens
    # {cat:2, purr:2, whiskers:1} n_c=5,(6 train tokens y:{dog:2,bark:1,
    # woof:2,fetch:1} n_c=6) vocab V=7, priors 2/4 each
    v = 7
    score = (
        _msb16_int((2 + 1) * 1048576 // (5 + v))    # cat
        + _msb16_int((2 + 1) * 1048576 // (5 + v))  # purr
        + _msb16_int(2 * 1048576 // 4)              # prior
    )
    assert got[0].score_x16 == score


def test_knn_classify_votes_and_tiebreak(spark):
    """Nearest-cluster vote on separable 2D-ish vectors; smallest label
    wins a split vote."""
    from chronographer_spark.operators.similarity import knn_classify

    rows = [
        (1, [1.0, 0.0, 0.0], 3), (2, [0.9, 0.1, 0.0], 3), (3, [1.0, 0.1, 0.0], 3),
        (4, [0.0, 1.0, 0.0], 7), (5, [0.1, 0.9, 0.0], 7), (6, [0.0, 1.0, 0.1], 7),
        (10, [1.0, 0.05, 0.0], 3),   # held out (id % 10 == 0), x-cluster
        (20, [0.05, 1.0, 0.0], 7),   # held out, y-cluster
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    got = {r.vec_id: r for r in knn_classify(df, k=3, test_mod=10).collect()}
    assert got[10].pred_label == 3 and got[10].correct == 1
    assert got[20].pred_label == 7 and got[20].correct == 1
    assert got[10].n_votes == 3
    # split vote 1-1 at k=2 with equidistant-by-construction? use k=6: 3 vs 3
    all6 = {r.vec_id: r for r in knn_classify(df, k=6, test_mod=10).collect()}
    assert all6[10].pred_label == 3  # 3 < 7 on a 3-3 tie
    # broadcast guard (round-5 ADVICE): an over-limit test split raises
    # instead of silently shipping a corpus-sized broadcast
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_broadcast_rows"):
        knn_classify(df, k=3, test_mod=10, max_broadcast_rows=1)


def test_ndcg_at_k_python_replay(spark):
    """DCG/IDCG under the quantized msb16 discount, replayed in Python;
    a perfect ranking scores 1e6."""
    from chronographer_spark.operators.classifier import _msb16_int
    from chronographer_spark.operators.retrieval import ndcg_at_k

    ranked = spark.createDataFrame(
        [(101, 1), (102, 2), (103, 3)], ["doc_id", "rank"]
    )
    grades = spark.createDataFrame(
        [(101, 3), (103, 2), (104, 1)], ["doc_id", "grade"]
    )
    row = ndcg_at_k(ranked, grades, k=3).collect()[0]
    dcg = (
        3 * 16777216 // _msb16_int(2)
        + 0 * 16777216 // _msb16_int(3)
        + 2 * 16777216 // _msb16_int(4)
    )
    idcg = (
        3 * 16777216 // _msb16_int(2)
        + 2 * 16777216 // _msb16_int(3)
        + 1 * 16777216 // _msb16_int(4)
    )
    assert (row.dcg_x, row.idcg_x) == (dcg, idcg)
    assert row.ndcg_x1e6 == dcg * 10**6 // idcg
    perfect = spark.createDataFrame(
        [(101, 1), (103, 2), (104, 3)], ["doc_id", "rank"]
    )
    assert ndcg_at_k(perfect, grades, k=3).collect()[0].ndcg_x1e6 == 10**6


def test_eigenvector_centrality_star_replay(spark):
    """Undirected star: the hub saturates at the scale; leaves land at
    scale/n_leaves after the second round (hand power iteration)."""
    from chronographer_spark.operators.graph_algos import eigenvector_centrality

    und = [("h", "a"), ("h", "b"), ("h", "c"), ("h", "d")]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], ["src", "dst"]
    )
    got = {r.node: r.score for r in eigenvector_centrality(edges, rounds=3).collect()}
    s = 1 << 20
    # round1: hub=4s -> s, leaves=s -> s//4... normalize: max=4s -> hub s, leaf s*s//(4s)=s//4
    # round2: hub = 4*(s//4) = s; leaf = s -> max s -> hub s, leaf s
    # round3: hub = 4s -> s; leaf = s -> s//4
    assert got["h"] == s
    assert all(got[leaf] == s // 4 for leaf in "abcd")


def test_mmr_rerank_diversifies(spark):
    """Pure-relevance first pick; a near-duplicate of the winner drops
    below a less relevant but dissimilar item on round two."""
    from chronographer_spark.operators.sampling import mmr_rerank

    items = spark.createDataFrame(
        [(1, 1000000), (2, 950000), (3, 600000)], ["item", "rel_x1e6"]
    )
    # 2 is a near-dup of 1 (sim .9); 3 is unrelated
    sims_rows = [(1, 2, 900000), (2, 1, 900000), (1, 3, 0), (3, 1, 0),
                 (2, 3, 0), (3, 2, 0)]
    sims = spark.createDataFrame(sims_rows, ["a", "b", "sim_x1e6"])
    got = [(r.rnk, r.item, r.mmr_x1e6) for r in
           mmr_rerank(items, sims, k=3).orderBy("rnk").collect()]
    # round1: item1 (7e6/10); round2: 2 -> (7*.95e6-3*.9e6)=3.95e6 vs 3 -> 4.2e6
    assert [g[1] for g in got] == [1, 3, 2]
    assert got[0][2] == 7 * 1000000 // 10
    assert got[1][2] == (7 * 600000 - 0) // 10
    assert got[2][2] == (7 * 950000 - 3 * 900000) // 10


def test_heaps_profile_tiny_replay(spark):
    """Vocabulary growth checkpoints replayed by hand on an 8-doc corpus."""
    from chronographer_spark.operators.classifier import _msb16_int
    from chronographer_spark.operators.text import heaps_profile

    rows = [(i, " ".join(f"w{j}" for j in range(i + 1))) for i in range(1, 9)]
    # doc i has tokens w0..wi  -> vocab after doc i = i+1, tokens cum = sum
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.cp: r for r in heaps_profile(df, n_checkpoints=4).collect()}
    # mx=8, cps = {2, 4, 6, 8}
    assert set(got) == {2, 4, 6, 8}
    assert (got[2].n_docs, got[2].n_tokens, got[2].vocab) == (2, 5, 3)
    assert (got[4].n_docs, got[4].n_tokens, got[4].vocab) == (4, 14, 5)
    assert got[2].beta_x1e6 is None
    want = (_msb16_int(5) - _msb16_int(3)) * 10**6 // (
        _msb16_int(14) - _msb16_int(5)
    )
    assert got[4].beta_x1e6 == want


def test_readability_scores_hand_counts(spark):
    """Word/sentence/syllable counts and the x1e3 Flesch contract on a
    hand sentence."""
    from chronographer_spark.operators.text import readability_scores

    df = spark.createDataFrame(
        [(1, "The cat sat. The dog ran!"), (2, "")], ["doc_id", "text"]
    )
    got = {r.doc_id: r for r in readability_scores(df).collect()}
    r = got[1]
    # words 6, sentences 2 ('.' and '!'), vowel groups: e,a,a,e,o,a = 6
    assert (r.n_words, r.n_sentences, r.n_syllables) == (6, 2, 6)
    assert r.flesch_x1e3 == 206835 - 1015 * 6 // 2 - 84600 * 6 // 6
    # empty text: floors kick in (1 word, 1 sentence, 0 syllables)
    assert (got[2].n_words, got[2].n_sentences, got[2].n_syllables) == (1, 1, 0)


def test_mcnemar_and_mcc_hand_confusion(spark):
    """Discordant counts + chi2 and signed-MCC² on a hand-built paired
    table (A right on 3 B-wrong rows, B right on 1 A-wrong row)."""
    from chronographer_spark.operators.classifier import mcc_binary, mcnemar_test

    rows = [
        (1, 1, 0), (1, 1, 0), (1, 1, 0),   # A right, B wrong (b=3)
        (0, 1, 0),                          # A wrong, B right (c=1)
        (1, 1, 1), (0, 0, 0),               # both right
        (1, 0, 0),                          # both wrong
    ]
    df = spark.createDataFrame(rows, ["y", "pa", "pb"])
    m = mcnemar_test(df, "y", "pa", "pb").collect()[0]
    assert (m.n, m.b, m.c) == (7, 3, 1)
    assert m.chi2_x1e6 == (3 - 1) ** 2 * 10**6 // 4
    # MCC of pa vs y: tp=4, tn=1, fp=1, fn=1 -> num=3, marginals 5,5,2,2
    r = mcc_binary(df, "y", "pa").collect()[0]
    assert (r.tp, r.tn, r.fp, r.fn) == (4, 1, 1, 1)
    assert r.mcc2_x1e6 == (3 * 1000 // 25) * (3 * 1000 // 4)
    # perfect predictor -> exactly 1e6; inverted -> -1e6 (up to staging)
    perfect = spark.createDataFrame([(1, 1), (0, 0), (1, 1), (0, 0)], ["y", "p"])
    assert mcc_binary(perfect, "y", "p").collect()[0].mcc2_x1e6 == 10**6
    inv = spark.createDataFrame([(1, 0), (0, 1), (1, 0), (0, 1)], ["y", "p"])
    assert mcc_binary(inv, "y", "p").collect()[0].mcc2_x1e6 == -(10**6)


def test_blocking_quality_hand_pairs(spark):
    """Completeness and reduction from hand-built candidate/truth sets."""
    from chronographer_spark.operators.dedup import blocking_quality

    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5)], ["id_a", "id_b"]
    )
    truth = spark.createDataFrame([(1, 2), (4, 5), (6, 7)], ["id_a", "id_b"])
    r = blocking_quality(cand, truth, n_items=8).collect()[0]
    assert (r.n_cand, r.n_truth, r.n_hits) == (4, 3, 2)
    assert r.completeness_x1e6 == 2 * 10**6 // 3
    assert r.reduction_x1e6 == 10**6 - 4 * 10**6 // 28


def test_clustering_agreement_hand_contingency(spark):
    """Purity/Rand/ARI replayed from a hand contingency; identical
    partitions score exactly 1e6 everywhere."""
    from chronographer_spark.operators.clustering import clustering_agreement

    # clusters {a:[x,x,y], b:[y,y]}: cells a/x=2, a/y=1, b/y=2, n=5
    rows = [("a", "x"), ("a", "x"), ("a", "y"), ("b", "y"), ("b", "y")]
    df = spark.createDataFrame(rows, ["cluster", "label"])
    r = clustering_agreement(df, "cluster", "label").collect()[0]
    n, s_ij, s_a, s_b = 5, 1 + 0 + 1, 3 + 1, 1 + 3
    C = n * (n - 1) // 2
    assert r.n == 5
    assert r.purity_x1e6 == (2 + 2) * 10**6 // 5
    assert r.rand_x1e6 == (C + 2 * s_ij - s_a - s_b) * 10**6 // C
    assert r.ari_x1e6 == 2 * (C * s_ij - s_a * s_b) * 10**6 // (
        C * (s_a + s_b) - 2 * s_a * s_b
    )
    same = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("b", "y")], ["cluster", "label"]
    )
    p = clustering_agreement(same, "cluster", "label").collect()[0]
    assert (p.purity_x1e6, p.rand_x1e6, p.ari_x1e6) == (10**6, 10**6, 10**6)


def test_krippendorff_alpha_hand_replay(spark):
    """Alpha on a hand fixture with a 2-rating and a 3-rating unit,
    replayed against the coincidence-matrix formula; perfect agreement
    scores exactly 1e6."""
    from chronographer_spark.operators.classifier import krippendorff_alpha

    rows = [
        (1, "a"), (1, "a"), (1, "b"),   # m=3
        (2, "a"), (2, "a"),             # m=2
        (3, "b"),                        # unpairable, drops
    ]
    df = spark.createDataFrame(rows, ["unit", "value"])
    r = krippendorff_alpha(df, "unit", "value").collect()[0]
    # unit1 pairs (w=6//2=3): (a,a)x2, (a,b)x2, (b,a)x2 -> O_aa=6, O_ab=6, O_ba=6
    # unit2 pairs (w=6): (a,a)x2 -> O_aa=18 total
    # marginals N_a = O_aa+O_ab = 24, N_b = O_ba = 6; sum 30 = 6*5 values
    # do6 = O_ab+O_ba = 12; de36 = 30^2 - (24^2 + 6^2) = 288
    assert r.n_units == 2
    assert r.n_vals == 5
    assert r.do_scaled == 12
    assert r.de_scaled == 288
    alpha = 10**6 - 6 * (r.n_vals - 1) * r.do_scaled * 10**6 // r.de_scaled
    assert r.alpha_x1e6 == alpha
    perfect = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b"), (2, "b")], ["unit", "value"]
    )
    assert (
        krippendorff_alpha(perfect, "unit", "value").collect()[0].alpha_x1e6
        == 10**6
    )


def test_prefix_over_cells_two_phase_matches_window(spark):
    """The two-phase distributed prefix (forced via threshold=1) must be
    bit-identical to the single-partition window on a hand cell table,
    ascending and descending, multi-column — the round-5 cell-cardinality
    routing for the global-window stats family."""
    from chronographer_spark.operators.classifier import _prefix_over_cells

    cells = spark.createDataFrame(
        [(v, v % 3 + 1, 10 - v) for v in range(11)], "v long, a long, b long"
    )
    for desc in (False, True):
        one = {
            r["v"]: (r["a_pre"], r["b_pre"])
            for r in _prefix_over_cells(
                cells, "v", ["a", "b"], descending=desc, threshold=1 << 40
            ).collect()
        }
        two = {
            r["v"]: (r["a_pre"], r["b_pre"])
            for r in _prefix_over_cells(
                cells, "v", ["a", "b"], descending=desc,
                threshold=1, n_parts=4,
            ).collect()
        }
        assert one == two
        order = sorted(one, reverse=desc)
        run_a = run_b = 0
        for v in order:
            run_a += v % 3 + 1
            run_b += 10 - v
            assert one[v] == (run_a, run_b)


def test_krippendorff_alpha_rejects_gt4_raters(spark):
    """A unit with 5 ratings must RAISE (the 6 DIV (m-1) weight would be
    silently truncated: 6//4=1 vs the true 1.5, biasing alpha) — round-5
    ADVICE fix: fail loudly instead of biasing."""
    import pytest as _pytest

    from chronographer_spark.operators.classifier import krippendorff_alpha

    rows = [(1, v) for v in ["a", "a", "b", "b", "a"]] + [(2, "a"), (2, "b")]
    df = spark.createDataFrame(rows, ["unit", "value"])
    with _pytest.raises(Exception, match="more than 4 ratings"):
        krippendorff_alpha(df, "unit", "value").collect()


def test_wilcoxon_signed_rank_hand_replay(spark):
    """Doubled midranks, W2 and exact moments on a hand pair set with a
    tie; zero differences drop."""
    from chronographer_spark.operators.classifier import wilcoxon_signed_rank

    rows = [("k", 10, 7), ("k", 5, 8), ("k", 9, 6), ("k", 4, 3), ("k", 2, 2)]
    df = spark.createDataFrame(rows, ["key", "x", "y"])
    r = wilcoxon_signed_rank(df, "key", "x", "y").collect()[0]
    # diffs: +3, -3, +3, +1 (the 0 drops); |d|=1 -> rmin 1, t=1, mr2 = 2;
    # |d|=3 group ranks {2,3,4} -> rmin 2, t=3, mr2 = 2*2 + 2 = 6 (midrank 3)
    # W2 = (positive: +3,+3,+1) = 6 + 6 + 2 = 14; n=4 -> E2 = 10
    assert (r.n_pairs, r.w2, r.e2) == (4, 14, 10)
    # tie3 = sum(t*t - 1) per row = 0 + 3*8 = 24
    assert r.var2 == 4 * 5 * 9 // 6 - 24 // 12
    assert r.z2_x1e6 == (14 - 10) ** 2 * 10**6 // r.var2


def test_kruskal_wallis_hand_replay(spark):
    """Tie-free 2-group case equals the textbook H via the doubled-rank
    contract."""
    from chronographer_spark.operators.classifier import kruskal_wallis

    rows = [("a", 1), ("a", 2), ("a", 3), ("b", 4), ("b", 5), ("b", 6)]
    df = spark.createDataFrame(rows, ["g", "v"])
    got = {r.grp: r for r in kruskal_wallis(df, "g", "v").collect()}
    # ranks a: 1,2,3 (R=6, R2=12); b: 4,5,6 (R=15, R2=30); n=6
    assert got["a"].r2_sum == 12 and got["b"].r2_sum == 30
    t_sum = 12 * 12 // 3 + 30 * 30 // 3
    h = 3 * t_sum * 10**6 // (6 * 7) - 3 * 7 * 10**6
    assert got["a"].h_x1e6 == h == got["b"].h_x1e6
    # textbook H = 12/(6*7) * (36/3 + 225/3) - 3*7 = 12/42*87 - 21 ≈ 3.857
    assert abs(h / 10**6 - (12 / 42 * 87 - 21)) < 1e-6


def test_ses_forecast_bitshift_weights(spark):
    """Level replays the exact bit-shift weighted mean over available
    history; residual is next minus level."""
    from chronographer_spark.operators.temporal import ses_forecast

    rows = [("k", 1, 10), ("k", 2, 20), ("k", 3, 40)]
    df = spark.createDataFrame(rows, ["key", "o", "x"])
    got = {r.o: r for r in ses_forecast(df, "key", "o", "x", window=16).collect()}
    w15, w14, w13 = 1 << 15, 1 << 14, 1 << 13
    assert got[1].ses == 10
    assert got[2].ses == (20 * w15 + 10 * w14) // (w15 + w14)
    assert got[3].ses == (40 * w15 + 20 * w14 + 10 * w13) // (w15 + w14 + w13)
    assert got[1].next_err == 20 - got[1].ses
    assert got[3].next_err is None


def test_page_hinkley_alarms_on_shift(spark):
    """Baseline-trained PH: flat series stays quiet; a level shift after
    training crosses lambda*n_tr and alarms."""
    from chronographer_spark.operators.temporal import page_hinkley

    flat = [("k", i, 10) for i in range(1, 13)]
    shift = [("s", i, 10) for i in range(1, 9)] + [
        ("s", i, 30) for i in range(9, 13)
    ]
    df = spark.createDataFrame(flat + shift, ["key", "o", "x"])
    got = page_hinkley(df, "key", "o", "x", train_n=8, lam=5).collect()
    quiet = [r for r in got if r.key == "k"]
    assert quiet and all(r.alarm == 0 for r in quiet)
    s_rows = sorted((r for r in got if r.key == "s"), key=lambda r: r.o)
    # inc per post row = (30-10)*8 = 160; the running min includes the
    # current row, so gaps go 0, 160, 320, 480 and the alarm (lam*n_tr=40)
    # fires from the SECOND shifted observation — the PH one-step lag
    assert [r.gap_scaled for r in s_rows] == [0, 160, 320, 480]
    assert [r.alarm for r in s_rows] == [0, 1, 1, 1]


def test_anova_and_brown_forsythe_hand_replay(spark):
    """Textbook two-group ANOVA (separated means: SSB 54, SSW 4) and the
    equal-spread Brown-Forsythe null (identical deviations -> F = 0)."""
    from chronographer_spark.operators.classifier import (
        anova_oneway,
        brown_forsythe,
    )

    rows = [("a", 1), ("a", 2), ("a", 3), ("b", 7), ("b", 8), ("b", 9)]
    df = spark.createDataFrame(rows, ["g", "x"])
    r = anova_oneway(df, "g", "x").collect()[0]
    assert (r.n, r.k, r.ssb_q, r.ssw_q) == (6, 2, 54, 4)
    # F = (54/1)/(4/4) = 54
    assert r.f_x1e6 == 54 * 10**6
    bf = brown_forsythe(df, "g", "x").collect()[0]
    # deviations from medians are {1,0,1} in both groups -> no between-group
    assert bf.ssb_q == 0 and bf.f_x1e6 == 0


def test_pca_top_component_recovers_dominant_axis(spark):
    """Data spread along axis 0 with noise on axis 1: the top component
    concentrates on dim 0 with the pinned positive sign."""
    from chronographer_spark.operators.similarity import pca_top_component

    rows = [([10.0, 1.0, 0.0],), ([-9.0, 0.5, 0.0],), ([8.0, -1.0, 0.0],),
            ([-10.0, -0.5, 0.0],), ([9.5, 0.2, 0.0],)]
    df = spark.createDataFrame(rows, ["embedding"])
    got = {r.dim: r.loading_x for r in pca_top_component(df, rounds=4).collect()}
    assert got[0] == 1 << 20                      # dominant axis, positive
    assert abs(got[1]) < (1 << 20) // 4           # noise axis small
    assert got[2] == 0


def test_friedman_hand_replay(spark):
    """Two complete blocks with consistent treatment ordering + one
    incomplete block that must drop; chi2 replayed by hand."""
    from chronographer_spark.operators.classifier import friedman_test

    rows = [
        ("u1", "a", 1), ("u1", "b", 2), ("u1", "c", 3),
        ("u2", "a", 4), ("u2", "b", 5), ("u2", "c", 6),
        ("u3", "a", 9),                      # incomplete -> drops
    ]
    df = spark.createDataFrame(rows, ["blk", "trt", "v"])
    got = {r.trt: r for r in friedman_test(df, "blk", "trt", "v").collect()}
    assert got["a"].n_blocks == 2
    # within-block mr2: ranks 1,2,3 doubled -> 2,4,6 per block
    assert (got["a"].r2_sum, got["b"].r2_sum, got["c"].r2_sum) == (4, 8, 12)
    rr = 16 + 64 + 144
    chi2 = 3 * rr * 10**6 // (2 * 3 * 4) - 3 * 2 * 4 * 10**6
    assert got["a"].chi2_x1e6 == chi2
    # textbook: perfectly consistent ranking, b=2, k=3 -> chi2 = b(k-1) = 4
    assert abs(chi2 / 10**6 - 4.0) < 1e-6


def test_forecast_mase_constant_and_trend(spark):
    """A constant series has zero naive error -> NULL MASE; a drifting
    series gives the exact integer ratio."""
    from chronographer_spark.operators.temporal import forecast_mase

    const = [("c", i, 5) for i in range(1, 6)]
    trend = [("t", i, 10 * i) for i in range(1, 6)]
    df = spark.createDataFrame(const + trend, ["key", "o", "x"])
    got = {r.key: r for r in forecast_mase(df, "key", "o", "x").collect()}
    assert got["c"].mase_x1e6 is None and got["c"].mae_model_sum == 0
    t = got["t"]
    assert t.n_evals == 4 and t.mae_naive_sum == 40
    assert t.mase_x1e6 == t.mae_model_sum * 10**6 // 40
    # the smoother lags a trend, so it must do worse than naive here
    assert t.mase_x1e6 > 10**6


def test_sample_quantile_report_small_is_exact(spark):
    """When the sample covers the whole input (k >= n) the estimates and
    exact quantiles coincide and rank error is ~0."""
    from chronographer_spark.operators.sketches import sample_quantile_report

    rows = [(v, v) for v in range(1, 101)]
    df = spark.createDataFrame(rows, ["cents", "event_id"])
    got = {r.p: r for r in
           sample_quantile_report(df, "cents", "event_id", k=100).collect()}
    assert got[50].est == got[50].exact == 50
    assert got[90].est == got[90].exact == 90
    assert got[99].abs_err == 0 and got[99].rank_err_x1e6 == 0


def test_nb_crossval_subtraction_models(spark):
    """Out-of-fold predictions on a separable corpus: every fold scores
    its held-out docs with the OTHER folds' counts; overall accuracy is
    the sum over folds."""
    from chronographer_spark.operators.classifier import multinomial_nb_crossval

    rows = []
    for i in range(10):
        rows.append((i * 2, "x", "cat purr cat"))
        rows.append((i * 2 + 1, "y", "dog woof dog"))
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    got = {r.fold: r for r in
           multinomial_nb_crossval(df, n_folds=5).collect()}
    assert set(got) == {"0", "1", "2", "3", "4", "__overall__"}
    assert got["__overall__"].n_docs == 20
    assert got["__overall__"].n_correct == 20   # trivially separable
    assert got["0"].n_docs == 4
    assert all(got[str(f)].acc_x1e6 == 10**6 for f in range(5))


def test_vmeasure_extremes(spark):
    """Identical partitions score 1e6 on all three; a single-cluster
    partition is complete but not homogeneous."""
    from chronographer_spark.operators.clustering import vmeasure

    same = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("b", "y"), ("b", "y")], ["cluster", "label"]
    )
    r = same and vmeasure(same, "cluster", "label").collect()[0]
    assert (r.homogeneity_x1e6, r.completeness_x1e6, r.v_x1e6) == (
        10**6, 10**6, 10**6
    )
    lump = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("a", "y"), ("a", "y")], ["cluster", "label"]
    )
    l = vmeasure(lump, "cluster", "label").collect()[0]
    # one cluster: H(C|K) = H(C) -> homogeneity 0; completeness pinned 1e6
    assert l.homogeneity_x1e6 == 0 and l.completeness_x1e6 == 10**6
    assert l.v_x1e6 == 0


def test_proportion_ztest_hand_replay(spark):
    """Exact cross-multiplied z² for a 2-segment table, against the
    textbook pooled formula."""
    from chronographer_spark.operators.classifier import (
        proportion_ztest_segments,
    )

    rows = [("a", 1)] * 8 + [("a", 0)] * 2 + [("b", 1)] * 3 + [("b", 0)] * 7
    df = spark.createDataFrame(rows, ["seg", "s"])
    got = {r.segment: r for r in
           proportion_ztest_segments(df, "seg", "s").collect()}
    k1, n1, kk, nn = 8, 10, 11, 20
    num = (k1 * (nn - n1) - (kk - k1) * n1) ** 2 * nn * 10**6
    den = n1 * (nn - n1) * kk * (nn - kk)
    assert got["a"].z2_x1e6 == num // den
    assert got["a"].z2_x1e6 == got["b"].z2_x1e6  # symmetric 2-segment case
    # textbook z^2 = (0.8-0.3)^2 / (0.55*0.45*(1/10+1/10)) ~ 5.0505
    assert abs(got["a"].z2_x1e6 / 10**6 - 5.0505) < 1e-3


def test_grubbs_screen_flags_outlier(spark):
    """The planted spike is the deviant pick and G² matches the hand
    formula; a constant series emits 0."""
    from chronographer_spark.operators.classifier import grubbs_screen

    rows = [("k", v) for v in [10, 11, 9, 10, 60]] + [("c", 5)] * 4
    df = spark.createDataFrame(rows, ["key", "x"])
    got = {r.key: r for r in grubbs_screen(df, "key", "x").collect()}
    k = got["k"]
    assert k.x_star == 60
    n, s, q = 5, 100, 100 + 121 + 81 + 100 + 3600
    g2 = (n * 60 - s) ** 2 * (n - 1) * 10**6 // (n * (n * q - s * s))
    assert k.g2_x1e6 == g2
    assert got["c"].g2_x1e6 == 0


def test_distinct_n_and_dup_rate_hand(spark):
    """Distinct-1/2 ratios and duplicate-turn rates on a tiny corpus with
    a repeated assistant turn and a sub-bigram turn."""
    import datetime as dt

    from chronographer_spark.operators.dialogue import (
        distinct_n_diversity,
        duplicate_turn_rate,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("c1", 0, "assistant", "hello world", "", t0),
        ("c2", 0, "assistant", "hello world", "", t0),   # exact repeat
        ("c3", 0, "assistant", "hello there", "", t0),
        ("c4", 0, "user", "hi", "", t0),                  # 1 token, no bigram
    ]
    tx = spark.createDataFrame(
        rows, ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    dn = {r.role: r for r in distinct_n_diversity(tx, n=2).collect()}
    a = dn["assistant"]
    # tokens: hello x3, world x2, there x1 -> 6 total, 3 distinct
    assert (a.total_1, a.distinct_1) == (6, 3)
    # bigrams: "hello world" x2, "hello there" -> 3 total, 2 distinct
    assert (a.total_n, a.distinct_n) == (3, 2)
    assert a.dn_x1e6 == 2 * 10**6 // 3
    u = dn["user"]
    assert (u.total_n, u.distinct_n, u.dn_x1e6) == (0, 0, 0)
    dr = {r.role: r for r in duplicate_turn_rate(tx).collect()}
    assert (dr["assistant"].n_turns, dr["assistant"].n_distinct) == (3, 2)
    assert dr["assistant"].dup_rate_x1e6 == 1 * 10**6 // 3
    assert dr["assistant"].top_repeat_n == 2
    assert dr["user"].dup_rate_x1e6 == 0


def test_chao1_and_effect_sizes_hand(spark):
    """Chao1 from a hand count-of-counts; Cohen's d² replay on separated
    groups; Cronbach alpha 1.0 on perfectly parallel items."""
    from chronographer_spark.operators.classifier import (
        cohens_d_signed,
        cronbach_alpha,
    )
    from chronographer_spark.operators.text import chao1_richness

    docs = ["a a b b c d e", "c d f"]
    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)],
                               ["doc_id", "text"])
    r = chao1_richness(df).collect()[0]
    # counts: a2 b2 c2 d2 e1 f1 -> D=6, N1=2, N2=4
    assert (r.d_obs, r.n1, r.n2) == (6, 2, 4)
    assert r.chao1_x1e6 == 6 * 10**6 + 4 * 10**6 // 8

    rows = [("k", 0, 1), ("k", 0, 2), ("k", 0, 3),
            ("k", 1, 7), ("k", 1, 8), ("k", 1, 9)]
    d = cohens_d_signed(
        spark.createDataFrame(rows, ["key", "g", "x"]), "key", "g", "x"
    ).collect()[0]
    # means 2 vs 8, pooled s^2 = 1 -> d = 6, d^2 = 36 (positive: g1 higher)
    assert d.d2_x1e6 == 36 * 10**6
    inv = cohens_d_signed(
        spark.createDataFrame(
            [(k, 1 - g, x) for k, g, x in rows], ["key", "g", "x"]
        ), "key", "g", "x",
    ).collect()[0]
    assert inv.d2_x1e6 == -36 * 10**6

    arows = [(f"s{i}", it, 10 * i) for i in range(4) for it in "abc"]
    a = cronbach_alpha(
        spark.createDataFrame(arows, ["sb", "it", "x"]), "sb", "it", "x"
    ).collect()[0]
    assert (a.k, a.n_subjects, a.alpha_x1e6) == (3, 4, 10**6)


def test_cochran_jonckheere_durbin_hand(spark):
    """Cochran Q on a hand binary block table; Jonckheere J2/E2 on an
    ordered separable fixture; DW = 2 on alternating residuals."""
    from chronographer_spark.operators.classifier import (
        cochran_q,
        jonckheere_trend,
    )
    from chronographer_spark.operators.temporal import durbin_watson

    # 4 complete blocks x 3 treatments; treatment c always succeeds
    rows = []
    for b in range(4):
        rows += [(f"b{b}", "a", 0), (f"b{b}", "bb", b % 2), (f"b{b}", "c", 1)]
    q = {r.treatment: r for r in
         cochran_q(spark.createDataFrame(rows, ["blk", "t", "s"]),
                   "blk", "t", "s").collect()}
    cj = {"a": 0, "bb": 2, "c": 4}
    nn, cc2 = 6, 0 + 4 + 16
    rr2 = sum((0 + b % 2 + 1) ** 2 for b in range(4))  # rows: 1,2,1,2 -> 10
    want = 2 * (3 * cc2 - nn * nn) * 10**6 // (3 * nn - rr2)
    assert q["c"].c_j == 4 and q["a"].q_x1e6 == want

    # strictly increasing groups: every cross-group pair concordant
    jrows = [("g1", 1), ("g1", 2), ("g2", 3), ("g2", 4), ("g3", 5)]
    j = jonckheere_trend(
        spark.createDataFrame(jrows, ["g", "v"]), "g", "v"
    ).collect()[0]
    # pairs across groups: 2*2 + 2*1 + 2*1 = 8, all concordant -> J2 = 16
    assert (j.n, j.k, j.j2) == (5, 3, 16)
    assert j.e2 == (25 - (4 + 4 + 1)) // 2

    drows = [("k", i, (-1) ** i * 3) for i in range(8)]
    dw = durbin_watson(
        spark.createDataFrame(drows, ["key", "o", "e"]), "key", "o", "e"
    ).collect()[0]
    # alternating +-3: sum diff^2 = 7 * 36, sum e^2 = 8 * 9 -> DW = 3.5
    assert dw.dw_x1e6 == 7 * 36 * 10**6 // 72


def test_markov_entropy_rate_extremes(spark):
    """A deterministic chain reads 0 bits; a uniform 2-way branch reads
    ~1000 millibits (msb16 quantization band)."""
    import datetime as dt

    from chronographer_spark.operators.dialogue import markov_entropy_rate

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # conv d: a->b->a->b (deterministic); conv u: c->a, c->b (uniform from c)
    for i, tool in enumerate(["a", "b", "a", "b"]):
        rows.append(("d", i, "tool", "x", tool, t0))
    rows += [("u1", 0, "tool", "x", "c", t0), ("u1", 1, "tool", "x", "a", t0),
             ("u2", 0, "tool", "x", "c", t0), ("u2", 1, "tool", "x", "b", t0)]
    tx = spark.createDataFrame(
        rows, ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    got = {r.src: r for r in markov_entropy_rate(tx).collect()}
    assert got["a"].h_x1e3 == 0 and got["b"].h_x1e3 == 0
    assert got["c"].n_out == 2 and abs(got["c"].h_x1e3 - 1000) <= 65
    # rate = weighted mean: 3 deterministic + 2 uniform transitions
    assert 0 < got["__rate__"].h_x1e3 < got["c"].h_x1e3


def test_sessionizer_agreement_identical_when_gaps_equal(spark):
    """With no gaps between the two thresholds, the partitions are
    identical and ARI reads exactly 1e6."""
    import datetime as dt

    from chronographer_spark.operators.clustering import clustering_agreement
    from chronographer_spark.operators.temporal import sessionize

    t0 = dt.datetime(2024, 1, 1)
    rows = [(1, i, t0 + dt.timedelta(hours=3 * i)) for i in range(4)]
    ev = spark.createDataFrame(rows, ["user_id", "event_id", "ts"])
    a = sessionize(ev, ["user_id"], gap_seconds=1800).select(
        "event_id", F.col("session_seq").alias("c30")
    )
    b = sessionize(ev, ["user_id"], gap_seconds=3600).select(
        "event_id", F.col("session_seq").alias("c60")
    )
    r = clustering_agreement(a.join(b, "event_id"), "c30", "c60").collect()[0]
    # 3-hour gaps exceed both thresholds -> identical all-singleton splits
    assert r.ari_x1e6 == 10**6 and r.purity_x1e6 == 10**6


def test_k_anonymity_and_waterfill_hand(spark):
    """k/l flags on a hand table; waterfill saturates the scarce source
    and splits the rest at one shared water level."""
    from chronographer_spark.operators.dq import k_anonymity_report
    from chronographer_spark.operators.sampling import budget_waterfill

    rows = [("en", "web", "a")] * 5 + [("en", "web", "b")] + [
        ("fr", "web", "a"), ("fr", "web", "a")
    ]
    df = spark.createDataFrame(rows, ["lang", "source", "sv"])
    got = {r.group_key: r for r in
           k_anonymity_report(df, ["lang", "source"], "sv", k=5).collect()}
    assert (got["en|web"].n_rows, got["en|web"].l_div) == (6, 2)
    assert (got["en|web"].k_ok, got["en|web"].l_ok) == (1, 1)
    assert (got["fr|web"].k_ok, got["fr|web"].l_ok) == (0, 0)

    srcs = spark.createDataFrame(
        [("a", 10, 5), ("b", 10, 100), ("c", 20, 100)], ["source", "w", "cap"]
    )
    out = {r.source: r for r in budget_waterfill(srcs, 65).collect()}
    # a saturates at 5; remaining 60 over weight 30 -> lambda 2: b 20, c 40
    assert (out["a"].alloc, out["b"].alloc, out["c"].alloc) == (5, 20, 40)
    assert (out["a"].capped, out["b"].capped) == (1, 0)
    assert out["a"].leftover == 0
    # budget above total capacity: everything capped, leftover positive
    rich = {r.source: r for r in budget_waterfill(srcs, 1000).collect()}
    assert all(r.capped == 1 for r in rich.values())
    assert rich["a"].leftover == 1000 - 205


def test_double_sweep_diameter_path_and_star(spark):
    """On a path graph double sweep is EXACT (finds both endpoints); on a
    star it reads the true diameter 2."""
    from chronographer_spark.operators.graph_algos import double_sweep_diameter

    path = [(i, i + 1) for i in range(1, 7)]   # path 1..7, diameter 6
    r = double_sweep_diameter(
        spark.createDataFrame(path, ["src", "dst"])
    ).collect()[0]
    assert (r.seed1, r.seed2, r.ecc1, r.diameter_lb) == (1, 7, 6, 6)
    star = [(0, i) for i in range(1, 5)]
    s = double_sweep_diameter(
        spark.createDataFrame(star, ["src", "dst"])
    ).collect()[0]
    assert s.diameter_lb == 2 and s.seed1 == 0 and s.seed2 == 1


def test_moods_median_and_runs_test_hand(spark):
    """Mood's chi² replay on separated groups; runs test on alternating
    and constant sign sequences."""
    from chronographer_spark.operators.classifier import moods_median, runs_test

    rows = [("a", v) for v in [1, 2, 3, 4]] + [("b", v) for v in [5, 6, 7, 8]]
    got = {r.grp: r for r in
           moods_median(spark.createDataFrame(rows, ["g", "x"]),
                        "g", "x").collect()}
    # pooled lower median = 4 -> above: a 0/4, b 4/4; A=4, N=8
    assert (got["a"].n_above, got["b"].n_above) == (0, 4)
    term_a = (0 * 8 - 4 * 4) ** 2 * 10**6 // (8 * 4 * 4) + \
             (4 * 8 - 4 * 4) ** 2 * 10**6 // (8 * 4 * 4)
    assert got["a"].chi2_x1e6 == 2 * term_a  # symmetric groups

    alt = [("k", i, (-1) ** i) for i in range(10)]
    const = [("c", i, 1) for i in range(6)]
    r = {x.key: x for x in runs_test(
        spark.createDataFrame(alt + const, ["key", "o", "e"]),
        "key", "o", "e").collect()}
    assert (r["k"].n, r["k"].n_pos, r["k"].n_runs) == (10, 5, 10)
    n, n1 = 10, 5
    num = (10 * n - n - 2 * n1 * 5) ** 2 * (n - 1) * 10**6
    den = 2 * n1 * 5 * (2 * n1 * 5 - n)
    assert r["k"].z2_x1e6 == num // den
    assert r["c"].z2_x1e6 is None  # one-sided -> degenerate


def test_simplified_silhouette_separated_and_overlapping(spark):
    """Well-separated 2-means reads near 1e6; a centroid pair straddling
    one blob reads near 0 for the straddled points."""
    from chronographer_spark.operators.clustering import (
        kmeans,
        simplified_silhouette,
    )

    rows = [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]), (4, [0.1, 0.9])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    _, cents = kmeans(df, k=2, iterations=2)
    got = {r.cluster: r for r in simplified_silhouette(df, cents).collect()}
    assert got["__overall__"].n == 4
    assert got["__overall__"].mean_s_x1e6 > 900000
    # a vector exactly on its own centroid: a=0 -> s = 1e6 exactly
    one = spark.createDataFrame([(9, [1.0, 0.0])], ["vec_id", "embedding"])
    r = {x.cluster: x for x in simplified_silhouette(
        one, [(0, [1.0, 0.0]), (1, [0.0, 1.0])]).collect()}
    assert r["0"].mean_s_x1e6 == 10**6


def test_source_similarity_and_l_moments_hand(spark):
    """Weighted Jaccard from hand count vectors; L-moments of uniform
    1..5 read the textbook L1=3, L2=1, tau3=0 and a skewed set reads
    tau3 > 0."""
    from chronographer_spark.operators.classifier import l_moments
    from chronographer_spark.operators.text import source_similarity

    rows = [(1, "a", "x x y"), (2, "b", "x y y z")]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    r = source_similarity(df).collect()[0]
    # counts a: x2 y1 (t=3); b: x1 y2 z1 (t=4); min: x1+y1=2 -> wj = 2/5
    assert (r.src_a, r.src_b, r.n_common) == ("a", "b", 2)
    assert r.wj_x1e6 == 2 * 10**6 // 5

    uni = spark.createDataFrame([("k", v) for v in [1, 2, 3, 4, 5]],
                                ["key", "x"])
    m = l_moments(uni, "key", "x").collect()[0]
    assert (m.l1_x1e6, m.l2_x1e6, m.t3_x1e6) == (3 * 10**6, 10**6, 0)
    skew = l_moments(
        spark.createDataFrame([("k", v) for v in [1, 1, 1, 1, 100]],
                              ["key", "x"]), "key", "x"
    ).collect()[0]
    assert skew.t3_x1e6 > 500000  # heavy right tail


def test_by_select_conservative_vs_bh_and_g_test_null(spark):
    """BY rejects a subset of BH on the same p's (harmonic penalty);
    G-test reads ~0 on an independent table and grows on a dependent
    one."""
    from chronographer_spark.operators.classifier import (
        bh_select,
        by_select,
        g_test,
    )

    rows = [(f"h{i:02d}", p, 1001) for i, p in enumerate(
        [1, 2, 3, 120, 300, 500, 700, 900, 950, 990]
    )]
    df = spark.createDataFrame(rows, ["key", "p_num", "p_den"])
    bh = {r.key for r in bh_select(
        df, "key", "p_num", "p_den", alpha=(10, 100)).collect() if r.rejected}
    by = {r.key for r in by_select(
        df, alpha=(10, 100)).collect() if r.rejected}
    assert by <= bh and len(by) >= 1
    # independent 2x2: counts proportional -> every O == E -> terms cancel
    ind = [("a", 0)] * 20 + [("a", 1)] * 10 + [("b", 0)] * 40 + [("b", 1)] * 20
    g0 = g_test(spark.createDataFrame(ind, ["x", "y"]), "x", "y").collect()[0]
    assert abs(g0.g2_16log2) <= 2 * g0.n // 16  # quantization band only
    dep = [("a", 0)] * 30 + [("b", 1)] * 30
    g1 = g_test(spark.createDataFrame(dep, ["x", "y"]), "x", "y").collect()[0]
    assert g1.dof == 1 and g1.g2_16log2 > 50 * 16  # strongly dependent


def test_cvm_two_sample_hand_and_separated(spark):
    """Textbook tiny case U=4, T=5/18; fully separated samples score far
    above interleaved ones."""
    from chronographer_spark.operators.classifier import cvm_two_sample

    tiny = spark.createDataFrame(
        [("k", 0, 1), ("k", 0, 2), ("k", 1, 3)], ["key", "g", "v"]
    )
    r = cvm_two_sample(tiny, "key", "g", "v").collect()[0]
    assert (r.n0, r.n1, r.u4) == (2, 1, 16)
    assert r.t_x1e6 == 16 * 10**6 // 24 - 7 * 10**6 // 18
    sep = [("s", 0, v) for v in range(10)] + [("s", 1, v + 100) for v in range(10)]
    mix = [("m", v % 2, v) for v in range(20)]
    got = {x.key: x for x in cvm_two_sample(
        spark.createDataFrame(sep + mix, ["key", "g", "v"]),
        "key", "g", "v").collect()}
    assert got["s"].t_x1e6 > 10 * got["m"].t_x1e6


def test_average_precision_and_kuiper_hand(spark):
    """AP replay on a hand ranking (hits at ranks 1 and 3 of 2 relevant);
    Kuiper on separated vs identical samples."""
    from chronographer_spark.operators.classifier import kuiper_two_sample
    from chronographer_spark.operators.retrieval import average_precision

    ranked = spark.createDataFrame(
        [("q", 10, 1), ("q", 20, 2), ("q", 30, 3)],
        ["query_id", "doc_id", "rank"],
    )
    rel = spark.createDataFrame([("q", 10), ("q", 30)], ["query_id", "doc_id"])
    got = {r.query_id: r for r in
           average_precision(ranked, rel, k=3).collect()}
    want = (1 * 10**6 // 1 + 2 * 10**6 // 3) // 2
    assert got["q"].ap_x1e6 == want and got["q"].n_rel == 2
    assert got["__map__"].ap_x1e6 == want

    sep = [("s", 0, v) for v in [1, 2]] + [("s", 1, v) for v in [5, 6]]
    same = [("i", g, v) for g in (0, 1) for v in [1, 2, 3]]
    k = {r.key: r for r in kuiper_two_sample(
        spark.createDataFrame(sep + same, ["key", "g", "v"]),
        "key", "g", "v").collect()}
    assert k["s"].v_x1e6 == 10**6   # fully separated: D+ = 1, D- = 0
    assert k["i"].v_x1e6 == 0       # identical ECDFs


def test_vargha_delaney_and_kendall_taub_hand(spark):
    """Â = 1 for dominant groups, 0.5 on identical; τ-b signed square
    reads +1e6 monotone-up, -1e6 monotone-down, and the tie-corrected
    value on a tied fixture."""
    from chronographer_spark.operators.classifier import (
        kendall_taub,
        vargha_delaney_a,
    )

    rows = [("d", 0, 1), ("d", 0, 2), ("d", 1, 3), ("d", 1, 4),
            ("s", 0, 5), ("s", 1, 5)]
    got = {r.key: r for r in vargha_delaney_a(
        spark.createDataFrame(rows, ["key", "g", "v"]),
        "key", "g", "v").collect()}
    assert got["d"].a_x1e6 == 10**6
    assert got["s"].a_x1e6 == 500000  # all ties -> exactly 0.5

    up = [("u", v, v) for v in range(1, 5)]
    down = [("w", v, -v) for v in range(1, 5)]
    tied = [("t", 1, 1), ("t", 1, 2), ("t", 2, 3)]
    got2 = {r.key: r for r in kendall_taub(
        spark.createDataFrame(up + down + tied, ["key", "x", "y"]),
        "key", "x", "y").collect()}
    assert got2["u"].taub2_x1e6 == 10**6
    assert got2["w"].taub2_x1e6 == -(10**6)
    # tied: pairs (1,1)-(1,2) tie in x; both concordant with (2,3):
    # C=2, D=0, T0=3, Tx=1, Ty=0 -> taub^2 = 4/(2*3) = 2/3
    t = got2["t"]
    assert (t.conc2, t.disc2) == (4, 0)
    assert t.taub2_x1e6 == 4 * 10**6 // 6


def test_rbp_and_simpson_hand(spark):
    """RBP bit-shift weights on a hand ranking; Simpson exact collision
    probability on a balanced 2-category key."""
    from chronographer_spark.operators.retrieval import rank_biased_precision
    from chronographer_spark.operators.text import simpson_diversity

    ranked = spark.createDataFrame(
        [("q", 10, 1), ("q", 20, 2), ("q", 30, 3)],
        ["query_id", "doc_id", "rank"],
    )
    rel = spark.createDataFrame([("q", 10), ("q", 30)], ["query_id", "doc_id"])
    got = {r.query_id: r for r in
           rank_biased_precision(ranked, rel, k=10).collect()}
    # hits at rank 1 and 3: 1e6/2 + 1e6/8 = 625000
    assert got["q"].rbp_x1e6 == 500000 + 125000
    assert got["q"].residual_x1e6 == 1000000 >> 10

    rows = [("k", c) for c in ["a", "a", "b", "b"]]
    s = simpson_diversity(
        spark.createDataFrame(rows, ["key", "cat"]), "key", "cat"
    ).collect()[0]
    # lambda = 4/12, diversity = 2/3, effective cats = 3.0 (unbiased)
    assert (s.lambda_x1e6, s.diversity_x1e6, s.eff_cats_x1e3) == (
        333333, 666667, 3000
    )


def test_effect_measures_2x2_hand(spark):
    """OR/RR/RD replay on a hand 2x2 (a=8,b=2,c=3,d=7) and NULL on a
    zero-margin table."""
    from chronographer_spark.operators.classifier import effect_measures_2x2

    rows = ([("k", 1, 1)] * 8 + [("k", 1, 0)] * 2
            + [("k", 0, 1)] * 3 + [("k", 0, 0)] * 7
            + [("z", 1, 1)] * 4 + [("z", 0, 1)] * 4)  # no failures -> b=d=0
    got = {r.key: r for r in effect_measures_2x2(
        spark.createDataFrame(rows, ["key", "g", "s"]),
        "key", "g", "s").collect()}
    k = got["k"]
    assert (k.a, k.b, k.c, k.d) == (8, 2, 3, 7)
    assert k.or_x1e6 == 8 * 7 * 10**6 // (2 * 3)
    assert k.rr_x1e6 == 8 * 10 * 10**6 // (10 * 3)
    assert k.rd_x1e6 == (8 * 10 - 3 * 10) * 10**6 // (10 * 10)
    assert got["z"].or_x1e6 is None and got["z"].rr_x1e6 == 10**6


def test_youden_cutpoint_hand(spark):
    """J maximizes at the separating threshold on a hand score table;
    ties pin to the smallest threshold."""
    from chronographer_spark.operators.classifier import youden_cutpoint

    rows = [(90, 1), (80, 1), (70, 0), (60, 1), (50, 0), (40, 0)]
    df = spark.createDataFrame(rows, ["score", "y"])
    r = youden_cutpoint(df, "score", "y").collect()[0]
    # t=60: tp=3, fp=1 -> J = 1e6 - 333333 = 666667; t=80: 2/3e6-0 = 666666
    assert (r.threshold, r.tp, r.fp) == (60, 3, 1)
    assert r.j_x1e6 == 3 * 10**6 // 3 - 1 * 10**6 // 3
    assert (r.fn, r.tn) == (0, 2)
