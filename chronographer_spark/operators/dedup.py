"""Deduplication operators for large-scale text corpora.

Five families, all expressed as DataFrame ops (no driver-side loops):

- exact:        hash-groupBy on normalized text
- minhash-LSH:  shingle -> k minhashes -> b bands -> bucket self-join
- simhash:      per-token 64-bit hashes, bit-weighted majority -> hamming buckets
- ngram-jaccard: n-gram set overlap for candidate pairs (verification stage)
- embedding:    cosine near-duplicate pairs over an embedding column

Portability note: content hashes use md5 (identical across engines, so the
DuckDB oracle can replay signatures); partitioning hashes use xxhash64
(JVM-native, fastest). At 100TB the LSH band join is the scale path: the
candidate-pair space shrinks from O(n^2) to the bucket collision set, and
the band-bucket key is high-cardinality so the shuffle is well-spread; a
salt can be added to the bucket key if one bucket degenerates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def normalize_text(col) -> "F.Column":
    """Lowercase, collapse whitespace — the canonical form for exact dedup."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row per distinct normalized text (deterministic: min id)."""
    normed = df.withColumn("__norm", normalize_text(F.col(text_col)))
    keep = normed.groupBy("__norm").agg(F.min(id_col).alias(id_col))
    return (
        normed.join(keep, [ "__norm", id_col], "left_semi").drop("__norm")
    )


def duplicate_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(fingerprint, n_dups, min_id) for groups with >1 member."""
    normed = df.withColumn("fp", F.md5(normalize_text(F.col(text_col))))
    return (
        normed.groupBy("fp")
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("keeper"))
        .filter(F.col("n_dups") > 1)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _shingles(text_col: str, n: int):
    """Word n-gram shingles via slide over the token array (pure native)."""
    toks = F.split(normalize_text(F.col(text_col)), " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, h0..h{k-1}) — min over md5(seed || shingle) per seed."""
    shingled = df.select(
        F.col(id_col), F.explode(_shingles(text_col, shingle_n)).alias("sh")
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"s{i}|"), F.col("sh")))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return shingled.groupBy(id_col).agg(*aggs)


def minhash_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, band, bucket) LSH rows — ONE explode of a per-row band array
    over the signature aggregate (see minhash_lsh_candidates plan note).
    Shared by the batch self-join and the incremental streaming index."""
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    rows_per_band = num_hashes // bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[F.col(f"h{b * rows_per_band + i}") for i in range(rows_per_band)],
                )
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("bb")
    ).select(id_col, "bb.band", "bb.bucket")


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via banded LSH.

    Rows colliding on any band's concatenated minhashes become candidates.
    The band self-join shuffles on (band, bucket) — high cardinality, skew-safe.

    Plan shape: the (band, bucket) rows come from ONE explode of a per-row
    band array over the signature aggregate — a union of b per-band selects
    would re-execute the whole shingle-explode-agg subtree once per band
    per join side (measured 4x wall at bands=4); with the single subtree
    the self-join's two sides share the signature exchange (ReusedExchange)
    and signatures are computed exactly once.
    """
    buckets = minhash_buckets(df, text_col, id_col, num_hashes, bands, shingle_n)
    left = buckets.select(F.col(id_col).alias("id_a"), "band", "bucket")
    right = buckets.select(F.col(id_col).alias("id_b"), "band", "bucket")
    pairs = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates()
    )
    return pairs


def ngram_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact Jaccard over shingle sets for candidate pairs (verification)."""
    sh = df.select(F.col(id_col), _shingles(text_col, shingle_n).alias("sh"))
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    joined = pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return joined.select(
        "id_a",
        "id_b",
        (inter.cast("double") / union).alias("jaccard"),
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates -> exact Jaccard >= threshold."""
    cands = minhash_lsh_candidates(df, text_col, id_col, num_hashes, bands, shingle_n)
    scored = ngram_jaccard(df, cands, text_col, id_col, shingle_n)
    return scored.filter(F.col("jaccard") >= threshold)


def cross_corpus_contamination(
    train: DataFrame,
    test: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    max_train_df: int | None = None,
    min_score: float = 0.0,
) -> DataFrame:
    """Train/test contamination check: per (test doc, train doc) pair, the
    fraction of the test doc's n-gram shingles that appear in the train doc.
    Returns (test_id, train_id, n_shared, n_test_shingles, score).

    The decontamination pass every training-data pipeline runs before
    evaluation: test docs with high score against any train doc leak into
    the benchmark. Scale shape: an equi-join on the shingle string — high
    cardinality for real text. `max_train_df` is the skew guard: shingles
    appearing in more than that many TRAIN docs (stopword runs, boilerplate)
    are dropped from the join, bounding per-key fan-out; the score
    denominator stays the full test shingle count, so the guard only
    lowers scores for pairs whose overlap is all-boilerplate — exactly the
    pairs decontamination should not flag.
    """
    tr = train.select(
        F.col(id_col).alias("train_id"),
        F.explode(_shingles(text_col, shingle_n)).alias("sh"),
    )
    if max_train_df is not None:
        rare = (
            tr.groupBy("sh")
            .agg(F.countDistinct("train_id").alias("df"))
            .filter(F.col("df") <= max_train_df)
            .select("sh")
        )
        tr = tr.join(rare, "sh", "left_semi")
    te = test.select(
        F.col(id_col).alias("test_id"),
        F.explode(_shingles(text_col, shingle_n)).alias("sh"),
    )
    sizes = test.select(
        F.col(id_col).alias("test_id"),
        F.size(_shingles(text_col, shingle_n)).alias("n_test_shingles"),
    )
    shared = te.join(tr, "sh").groupBy("test_id", "train_id").agg(
        F.count("*").alias("n_shared")
    )
    out = shared.join(sizes, "test_id").withColumn(
        "score", F.col("n_shared") / F.col("n_test_shingles")
    )
    if min_score > 0:
        out = out.filter(F.col("score") >= min_score)
    return out.select("test_id", "train_id", "n_shared", "n_test_shingles", "score")


def near_dup_clusters_exact_first(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-duplicate clustering with the exact-dedup-first composition:
    collapse identical normalized texts to one representative, run the
    MinHash near-dup pipeline on REPRESENTATIVES only, then connected
    components over (exact-group edges ∪ representative near-dup edges).
    Returns (id_col, cluster).

    Provably the same clusters as running near-dup over the full corpus:
    identical texts have identical shingle sets, signatures, buckets, and
    Jaccard scores, so any cross-group pair passing the threshold implies
    its representative pair passes too — connectivity is unchanged. Cost,
    however, drops from |docs| to |distinct texts| for the signature agg,
    and the Jaccard verify join stops replicating a shingle array once per
    duplicate pair (a dup-heavy corpus makes the direct join
    bandwidth-bound: measured 65-156 s for 100k docs with 20x exact dups vs
    seconds through this path). This is the composition a production
    training-data pipeline should run.
    """
    from ..linking.canonicalize import connected_components

    normed = df.withColumn("__fp", F.md5(normalize_text(F.col(text_col))))
    groups = normed.groupBy("__fp").agg(F.min(id_col).alias("rep"))
    members = normed.join(groups, "__fp").select(F.col(id_col), F.col("rep"))
    reps = df.join(
        members.filter(F.col(id_col) == F.col("rep")).select("rep"),
        df[id_col] == F.col("rep"),
        "left_semi",
    )
    rep_pairs = minhash_dedup(
        reps, text_col, id_col, threshold, num_hashes, bands, shingle_n
    )
    exact_edges = members.filter(F.col(id_col) != F.col("rep")).select(
        F.col(id_col).alias("src"), F.col("rep").alias("dst")
    )
    near_edges = rep_pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    nodes = df.select(F.col(id_col).alias("node"))
    cc = connected_components(exact_edges.unionByName(near_edges), all_nodes=nodes)
    return cc.select(F.col("node").alias(id_col), F.col("component").alias("cluster"))


# ---------------------------------------------------------------------------
# SimHash (64-bit, native expressions end-to-end)
# ---------------------------------------------------------------------------


def simhash64(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit simhash: per token xxhash64, per-bit majority vote.

    explode tokens -> for each bit position sum(+-1) -> sign -> recompose.
    One shuffle (groupBy id); the 64 bit-sums are a single wide aggregate —
    vectorized, no Python.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("tok"),
    ).withColumn("h", F.xxhash64("tok"))
    bit_aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(64)
    ]
    sums = toks.groupBy(id_col).agg(*bit_aggs)
    sig = F.lit(0).cast("long")
    for i in range(64):
        sig = sig + F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long") * (2**i if i < 63 else -(2**63))).otherwise(0)
    return sums.select(F.col(id_col), sig.alias("simhash"))


def simhash_candidates(
    sig: DataFrame,
    id_col: str = "doc_id",
    bits: int = 64,
    n_blocks: int = 4,
    max_hamming: int | None = None,
) -> DataFrame:
    """Block-partition candidate pairs: (id_a, id_b, hamming).

    The `bits`-wide signature splits into `n_blocks` contiguous blocks;
    rows colliding on ANY (block_index, block_value) become candidates.
    Pigeonhole guarantee: a pair with hamming distance <= n_blocks - 1 has
    at least one untouched block, so it ALWAYS collides — unlike a single
    top-prefix bucket (the round-1 scheme), which missed near-dups
    differing in one high bit. Shuffle key (block, value) is
    high-cardinality; candidate volume is bounded by per-bucket occupancy.
    `max_hamming` optionally filters the verified pairs (pass n_blocks - 1
    for the guaranteed-complete band).
    """
    width = bits // n_blocks
    mask = (1 << width) - 1
    blk = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("blk"),
                    F.shiftrightunsigned(F.col("simhash"), b * width)
                    .bitwiseAND(F.lit(mask))
                    .alias("val"),
                )
                for b in range(n_blocks)
            ]
        )
    )
    blocks = sig.select(F.col(id_col), F.col("simhash"), blk.alias("bv")).select(
        id_col, "simhash", "bv.blk", "bv.val"
    )
    a = blocks.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("s_a"), "blk", "val")
    b = blocks.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("s_b"), "blk", "val")
    out = (
        a.join(b, ["blk", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", F.bit_count(F.col("s_a").bitwiseXOR(F.col("s_b"))))
        .select("id_a", "id_b", "hamming")
    )
    if max_hamming is not None:
        out = out.filter(F.col("hamming") <= max_hamming)
    return out


# ---------------------------------------------------------------------------
# Embedding cosine near-duplicates
# ---------------------------------------------------------------------------


def embedding_near_dups(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 2,
    dim: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by cosine >= threshold.

    Scale path: banded random-hyperplane LSH (similarity.lsh_bucket with
    md5-portable planes) — `n_tables` independent tables of `n_planes` sign
    bits each, candidates = pairs colliding in ANY table, exact cosine only
    on candidates. Bucket cardinality is 2^n_planes per table and the
    (table, bucket) join key is high-cardinality, so the per-bucket
    self-join stays sub-quadratic as the corpus grows (raise n_planes with
    corpus size); a fixed-bucket scheme degenerates to O(n²/buckets).
    Recall: exact duplicates always collide (identical signs); borderline
    pairs may be missed — raise n_tables for recall, n_planes for precision.

    dim=None (the default) triggers one eager limit-1 job on `emb` at call
    time to discover the vector width (similarity._infer_dim) — pass `dim`
    explicitly when `emb` is a derived pipeline or in perf-sensitive paths.
    """
    from .similarity import lsh_bucket

    v = emb.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    bucketed = lsh_bucket(
        v, vec_col="v", n_planes=n_planes, n_tables=n_tables, portable=True, dim=dim
    )
    a = bucketed.select(
        F.col(id_col).alias("id_a"), F.col("v").alias("v_a"), "table", "bucket"
    )
    b = bucketed.select(
        F.col(id_col).alias("id_b"), F.col("v").alias("v_b"), "table", "bucket"
    )
    dot = F.aggregate(
        F.zip_with("v_a", "v_b", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.sqrt(F.aggregate("v_a", F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate("v_b", F.lit(0.0), lambda acc, x: acc + x * x))
    return (
        a.join(b, ["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])  # collide-in-any-table, score once
        .withColumn("cosine", dot / (na * nb))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def simhash_portable(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """Engine-portable simhash: per-token 32-bit hash from the first 8 hex
    chars of md5 (identical in any engine — the DuckDB oracle replays it
    bit-for-bit, unlike xxhash64 in :func:`simhash64`), then the same
    per-bit majority vote. Same single-shuffle shape as simhash64; use that
    one when raw throughput matters and this one when cross-engine
    verifiability matters."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("tok"),
    ).withColumn(
        "h", F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
    )
    bit_aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    sums = toks.groupBy(id_col).agg(*bit_aggs)
    sig = F.lit(0).cast("long")
    for i in range(bits):
        sig = sig + F.when(F.col(f"b{i}") > 0, F.lit(2**i).cast("long")).otherwise(0)
    return sums.select(F.col(id_col), sig.alias("simhash"))


def exact_dedup_keep_best(
    df: DataFrame,
    score_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact dedup keeping the best-scoring duplicate (ties -> min id).

    Training pipelines keep the highest-quality copy of a duplicated
    document, not an arbitrary one; same single-shuffle shape as
    :func:`exact_dedup` with the keeper chosen by (score desc, id asc)."""
    from pyspark.sql.window import Window

    normed = df.withColumn("__norm", normalize_text(F.col(text_col)))
    w = Window.partitionBy("__norm").orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    return (
        normed.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__norm", "__rk")
    )


def semantic_dedup(
    corpus: DataFrame,
    k: int = 8,
    iterations: int = 2,
    threshold_x1e6: int = 950000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, arXiv
    2303.09540): k-means routes embeddings into clusters, then a document
    is DROPPED iff some EARLIER (lower-id) document in the SAME cluster has
    quantized cosine >= threshold. Returns (id_col, cluster, kept bool) for
    every input row.

    The dominated-by-earlier rule replaces SemDeDup's per-cluster greedy
    sweep with a set-oriented equivalent: one within-cluster self-join plus
    an anti-join, no iteration, deterministic under any execution order.
    Like the paper's variant it keeps exactly the earliest member of every
    "similar to something before me" chain; near-dups that k-means split
    across clusters are not compared (the paper's documented recall
    trade-off — cluster count is the recall/cost knob).

    Scale shape (10^11 docs): assignment is map-only (centroids broadcast
    as literals, clustering.assign_clusters); the self-join shuffles on
    `cluster`, so production k must scale with n (SemDeDup uses ~n/10^4
    clusters) to keep per-cluster pair counts bounded and the join key
    high-cardinality — the default k=8 here is sized for the test corpus,
    not for production. Int8 codes move 4x fewer bytes through the pair
    join than raw doubles, and the score is exact integer arithmetic
    (similarity.quantized_cosine), so the DuckDB oracle replays it
    bit-identically with no float-hash hazard.

    Pass `centroids` (as returned by clustering.kmeans) to reuse a trained
    codebook; then assignment runs map-only against those centroids and no
    k-means rounds execute here.
    """
    from .clustering import assign_clusters, kmeans
    from .similarity import quantize_vectors, quantized_cosine

    if centroids is None:
        # kmeans' last-round assignment is the contract (the oracle's a2);
        # it only carries (id, cluster), so quantized codes join back on id.
        assigned, _cents = kmeans(
            corpus, k=k, iterations=iterations, id_col=id_col, vec_col=vec_col
        )
        qz = quantize_vectors(corpus.select(id_col, vec_col), vec_col).select(
            id_col, "qvec"
        )
        docs = assigned.join(qz, id_col)
    else:
        # trained codebook: assignment is map-only and keeps the vector, so
        # quantize in the same stage — zero shuffles before the pair join
        docs = quantize_vectors(
            assign_clusters(corpus, centroids, id_col, vec_col), vec_col
        ).select(id_col, "cluster", "qvec")
    a = docs.select(
        F.col(id_col).alias("__a_id"), "cluster", F.col("qvec").alias("__aq")
    )
    b = docs.select(
        F.col(id_col).alias("__b_id"), "cluster", F.col("qvec").alias("__bq")
    )
    dominated = (
        a.join(b, "cluster")
        .filter(F.col("__a_id") < F.col("__b_id"))
        .filter(
            F.floor(
                quantized_cosine(F.col("__aq"), F.col("__bq")) * 1000000 + F.lit(0.5)
            )
            >= F.lit(int(threshold_x1e6))
        )
        .select(F.col("__b_id").alias(id_col))
        .distinct()
        .withColumn("__dom", F.lit(1))
    )
    return (
        docs.join(dominated, id_col, "left")
        .select(id_col, "cluster", F.col("__dom").isNull().alias("kept"))
    )


def repeated_ngram_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_docs: int = 2,
    checkpoint: bool = True,
) -> DataFrame:
    """Substring-level duplication: per document, the maximal token spans
    covered by word n-grams that also occur in >= min_docs - 1 OTHER
    documents. The scalable n-gram approximation of exact-substring dedup
    (suffix arrays don't distribute; positional n-gram hashing does): a
    curation pipeline clips or down-weights these spans instead of dropping
    whole near-duplicate documents.

    Shape: positional n-grams (one explode), ONE shuffle on the gram for the
    document-frequency count, a semi-join of positions against the
    duplicated-gram set, then a per-document window that merges
    overlapping-or-adjacent hits (pos <= prev + n) into maximal spans via
    the lag/running-sum island idiom. Ubiquitous grams (stopword runs) are
    the skew risk on the semi-join — AQE skew split handles the join, and
    raising `n` collapses their frequency geometrically.

    Returns (id_col, span_start, span_end, n_grams_in_span); token positions
    are 1-based inclusive over the normalized (lowercased,
    whitespace-collapsed) token sequence."""
    from pyspark.sql.window import Window

    toks = F.split(normalize_text(F.col(text_col)), " ")
    grams = df.select(
        F.col(id_col),
        F.posexplode(
            F.when(
                F.size(toks) >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - n + 1),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("__p0", "gram"),
    ).select(F.col(id_col), (F.col("__p0") + 1).alias("pos"), "gram")
    if checkpoint:
        # the positional-gram table feeds BOTH the document-frequency count
        # and the hits semi-join; materialize it once (minhash-bands
        # re-execution family) and spread the explode across the cluster
        # first — a single-split source would serialize it
        grams = grams.repartition(
            df.sparkSession.sparkContext.defaultParallelism
        ).localCheckpoint(eager=True)
    dup = (
        grams.groupBy("gram")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("gram")
    )
    hits = grams.join(dup, "gram", "left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    island = F.sum(
        F.when(
            F.col("pos") - F.lag("pos", 1, -10**9).over(w) > n, F.lit(1)
        ).otherwise(F.lit(0))
    ).over(w)
    return (
        hits.withColumn("__isl", island)
        .groupBy(id_col, "__isl")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + n - 1).alias("span_end"),
            F.count(F.lit(1)).alias("n_grams_in_span"),
        )
        .drop("__isl")
    )


def prefix_jaccard_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    shingle_n: int = 3,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (AllPairs/PPJoin).

    Returns every pair (id_a < id_b) whose shingle-set Jaccard >= threshold
    — 100% recall, unlike the minhash-LSH path whose recall is bounded by
    the band collision probability. The classic exact scale path (Bayardo
    et al. WWW'07; Xiao et al. PPJoin), re-expressed as DataFrame algebra
    (reference corpus dedup is approximate-only; this is added capability):

    1. one agg computes global document frequency per shingle; shingles are
       ordered rarest-first by the TOTAL order (df, shingle), so every
       engine and every run derives the identical per-doc prefix;
    2. per-doc prefix = first |S| - ceil(t·|S|) + 1 shingles of that order.
       ceil uses INTEGER arithmetic, (num·sz + 999999) div 1e6 with
       num = round(t·1e6): IEEE double gives 0.8*5 = 4.0000000000000002,
       whose ceil (5) silently shortens the prefix and loses qualifying
       pairs — pinned by a regression test;
    3. candidate pairs = equi-join of prefix rows on the shingle, plus the
       length filter num·|A| <= 1e6·|B| and num·|B| <= 1e6·|A| (a pair
       violating it cannot reach t), both sides integer;
    4. exact verify: intersection counts from the full shingle table,
       threshold compared as inter·1e6 >= num·(|A|+|B|-inter) in BIGINT —
       no float comparison anywhere on the accept path.

    Scale shape: the self-join keys are ONLY prefix shingles, and the
    rarest-first global order pushes stopwords out of every prefix — the
    hot high-df keys never become join keys, so candidates are bounded by
    sum(df^2) over LOW-df shingles. The skew safety LSH buys with banding,
    bought here with ordering while keeping exact recall. The df table is
    vocabulary-sized and joined (not broadcast), so it scales with corpus.

    Output: (id_a, id_b, inter, union, jaccard:double).
    """
    from pyspark.sql.window import Window

    num = int(round(threshold * 1_000_000))
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(_shingles(text_col, shingle_n)).alias("tok"),
    )
    dfreq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("id").orderBy("df", "tok")
    ranked = (
        tok.join(dfreq, "tok")
        .select(
            "id",
            "tok",
            F.row_number().over(w).alias("pos"),
            F.count(F.lit(1)).over(Window.partitionBy("id")).alias("sz"),
        )
    )
    # prefix length via exact integer ceil-div (see docstring step 2)
    pref = ranked.filter(
        F.col("pos")
        <= F.col("sz") - F.expr(f"({num} * sz + 999999) div 1000000") + 1
    )
    a = pref.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"), "tok")
    b = pref.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"), "tok")
    cand = (
        a.join(b, "tok")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.lit(num) * F.col("sz_a") <= F.lit(1_000_000) * F.col("sz_b"))
            & (F.lit(num) * F.col("sz_b") <= F.lit(1_000_000) * F.col("sz_a"))
        )
        .select("id_a", "id_b", "sz_a", "sz_b")
        .dropDuplicates()
    )
    ta = tok.select(F.col("id").alias("id_a"), "tok")
    tb = tok.select(F.col("id").alias("id_b"), "tok")
    inter = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "tok"])
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    union = F.col("sz_a") + F.col("sz_b") - F.col("inter")
    return (
        inter.filter(F.col("inter") * 1_000_000 >= F.lit(num) * union)
        .select(
            "id_a",
            "id_b",
            "inter",
            union.alias("union"),
            (F.col("inter").cast("double") / union).alias("jaccard"),
        )
    )


def remove_repeated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring dedup REWRITE (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): where
    repeated_ngram_spans only REPORTS cross-document duplicated spans,
    this drops them — at gram granularity with deterministic ownership:
    every n-gram occurring in >= min_docs distinct documents is kept
    ONLY in its smallest-doc_id owner; all other occurrences have their
    n covered token positions deleted, and each document's surviving
    tokens are re-joined in order. One canonical copy of boilerplate/
    leaked spans survives corpus-wide instead of none (the usual
    aggressive-clip loss).

    Shape: positional n-grams (one explode) -> ONE gram-keyed shuffle
    computing (distinct-doc df, min owner) together -> hit join back
    (duplicated-gram set is the small side; stopword-run skew handled
    by AQE, raising n collapses it geometrically) -> per-doc position
    anti-join + ordered reassembly, both keyed by doc. No driver state,
    no floats.

    Returns (id, n_tokens, n_dropped, clean_text).
    """
    toks = F.split(normalize_text(F.col(text_col)), " ")
    base = df.select(F.col(id_col).alias("id"), toks.alias("t")).filter(
        F.size("t") > 0
    )
    base = base.localCheckpoint(eager=True)  # feeds grams AND token rows
    grams = base.select(
        "id",
        F.posexplode(
            F.when(
                F.size("t") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - n + 1),
                    lambda i: F.concat_ws(" ", F.slice("t", i, n)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("__p0", "gram"),
    ).select("id", (F.col("__p0") + 1).alias("pos"), "gram")
    own = (
        grams.groupBy("gram")
        .agg(F.countDistinct("id").alias("ddf"), F.min("id").alias("owner"))
        .filter(F.col("ddf") >= min_docs)
        .select("gram", "owner")
    )
    covered = (
        grams.join(own, "gram")
        .filter(F.col("id") != F.col("owner"))
        .select("id", F.explode(F.sequence("pos", F.col("pos") + n - 1)).alias("pos"))
        .dropDuplicates()
    )
    tok_rows = base.select(
        "id",
        F.posexplode("t").alias("__p0", "tok"),
    ).select("id", (F.col("__p0") + 1).alias("pos"), "tok")
    kept = tok_rows.join(covered, ["id", "pos"], "left_anti")
    reassembled = kept.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("pos").alias("p"), F.col("tok").alias("w"))
                    )
                ),
                lambda s: s["w"],
            ),
        ).alias("clean_text"),
    )
    return (
        base.select("id", F.size("t").alias("n_tokens"))
        .join(reassembled, "id", "left")
        .select(
            "id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    trigger_mod: int = 8,
) -> DataFrame:
    """Content-defined chunking over the token stream (the FastCDC/rsync
    idea at token granularity): a chunk boundary opens at every token
    whose portable hash ≡ 0 (mod ``trigger_mod``), so expected chunk
    length is ``trigger_mod`` tokens and — the CDC property — boundaries
    are ANCHORED TO CONTENT, not offsets: an insertion early in a
    document shifts every fixed-window shingle but only the ONE chunk it
    touches here. The storage/dataset-level dedup primitive for crawl
    re-snapshots, where near-identical documents recur with local edits.

    Map-only (one explode + one per-doc running sum window keyed by the
    doc — no cross-doc shuffle); per-token md5 is the portable-oracle
    choice, a production build would swap in a gear-table hash inside
    codegen without changing the contract.

    Returns (id, chunk_idx, n_tokens, chunk_text).
    """
    from pyspark.sql.window import Window

    from .sketches import _hash32

    toks = F.filter(
        F.split(normalize_text(F.col(text_col)), " "), lambda t: t != F.lit("")
    )
    tok_rows = (
        df.select(F.col(id_col).alias("id"), toks.alias("t"))
        .filter(F.size("t") > 0)
        .select("id", F.posexplode("t").alias("pos", "tok"))
    )
    w = Window.partitionBy("id").orderBy("pos")
    flagged = tok_rows.withColumn(
        "boundary",
        F.when(
            (_hash32(F.col("tok")) % trigger_mod == 0) & (F.col("pos") > 0), 1
        ).otherwise(0),
    ).withColumn("chunk_idx", F.sum("boundary").over(w))
    return (
        flagged.groupBy("id", "chunk_idx")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col("pos").alias("p"), F.col("tok").alias("w"))
                        )
                    ),
                    lambda s: s["w"],
                ),
            ).alias("chunk_text"),
        )
        .select(
            "id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "chunk_text",
        )
    )


def cdc_dedup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    trigger_mod: int = 8,
) -> DataFrame:
    """Per-document chunk-level dedup profile over cdc_chunks: how many of
    a document's content-defined chunks also occur elsewhere in the corpus
    (identical chunk text in ANOTHER document, or more than once in this
    one) and how many tokens those shared chunks cover — the dataset-
    curation readout of CDC dedup (what fraction of the corpus is
    re-snapshot bytes). ONE chunk-text-keyed shuffle for the global
    instance/doc counts, then a doc-keyed rollup. Returns
    (id, n_chunks, n_dup_chunks, dup_tokens)."""
    chunks = cdc_chunks(df, text_col, id_col, trigger_mod).localCheckpoint(
        eager=True
    )  # feeds the global count AND the rollup
    global_counts = chunks.groupBy("chunk_text").agg(
        F.count(F.lit(1)).alias("n_inst")
    )
    flagged = chunks.join(global_counts, "chunk_text")
    return (
        flagged.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("n_inst") >= 2, 1).otherwise(0)).alias(
                "n_dup_chunks"
            ),
            F.sum(
                F.when(F.col("n_inst") >= 2, F.col("n_tokens")).otherwise(0)
            ).alias("dup_tokens"),
        )
        .select(
            "id",
            F.col("n_chunks").cast("long").alias("n_chunks"),
            F.col("n_dup_chunks").cast("long").alias("n_dup_chunks"),
            F.col("dup_tokens").cast("long").alias("dup_tokens"),
        )
    )


def bow_dup_groups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_group: int = 2,
) -> DataFrame:
    """Bag-of-words duplicate groups: documents whose SORTED token
    multisets match — the reorder-invariant exact tier between
    exact_dedup (misses any word shuffle) and minhash near-dup (pays
    shingle machinery for what is here a pure hash): template engines,
    list reorderings, and shuffled boilerplate all land in one group.

    Fingerprint = md5 of the space-joined array_sort of normalized
    tokens — a multiset key (duplicate tokens preserved), replayed
    bit-for-bit by DuckDB's list_sort + md5. One map-side fingerprint +
    ONE combinable groupBy; representative = min id (the exact_dedup
    pin).

    Returns one row per duplicate group (size >= min_group):
    (bow_fp, group_size, rep_id) — the keep/drop decision table.
    """
    toks = F.split(normalize_text(F.col(text_col)), " ")
    fp = F.md5(F.concat_ws(" ", F.array_sort(toks)))
    return (
        df.select(fp.alias("bow_fp"), F.col(id_col))
        .groupBy("bow_fp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("group_size"),
            F.min(id_col).cast("long").alias("rep_id"),
        )
        .filter(F.col("group_size") >= int(min_group))
    )


def source_overlap_matrix(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source duplicate mass: for every unordered source pair, how
    many distinct normalized fingerprints occur in BOTH — the provenance
    readout that tells a crawl team which feeds re-serve each other's
    content (and which source to drop first). Within-source duplicate
    mass appears on the diagonal pairs (a = b) as distinct fingerprints
    with >1 occurrence in that source.

    Scale shape: fingerprint collapse (md5 of normalized text) → distinct
    (fp, source) — both combinable; the pair fan is a self-join on fp
    whose fan-out is bounded by sources-per-fingerprint² (≤ |sources|²,
    a dimension bound), never documents².

    Returns (source_a, source_b, n_shared) for source_a <= source_b;
    diagonal rows count fingerprints duplicated WITHIN the source.
    """
    fp = df.select(
        F.md5(normalize_text(F.col(text_col))).alias("__fp"),
        F.col(source_col).alias("__s"),
    )
    per = fp.groupBy("__fp", "__s").agg(F.count(F.lit(1)).alias("__n"))
    a = per.select("__fp", F.col("__s").alias("source_a"), F.col("__n").alias("__na"))
    b = per.select("__fp", F.col("__s").alias("source_b"), F.col("__n").alias("__nb"))
    pairs = a.join(b, "__fp").filter(F.col("source_a") <= F.col("source_b"))
    return (
        pairs.filter(
            (F.col("source_a") != F.col("source_b")) | (F.col("__na") > 1)
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )


def incremental_lsh_pairs(
    df: DataFrame,
    new_filter,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Append-only near-dup candidates: only the NEW batch probes the
    (band, bucket) index — the batch analog of the streaming incremental
    dedup (streaming/dedup.py persists exactly this bucket-table shape).
    In production the full bucket table is the STORED index and only the
    batch's signatures are computed; the probe join shuffles batch-sized
    rows against the bucketed index (co-located when the index is written
    bucketed by (band, bucket), io/catalog bucketing).

    `new_filter`: a Column predicate over `id_col` marking batch rows.
    Returns exactly the full-LSH candidate pairs that involve at least one
    new document — (id_a < id_b), both orientations deduped, old-old pairs
    never enumerated."""
    buckets = minhash_buckets(
        df, text_col, id_col, num_hashes, bands, shingle_n
    ).localCheckpoint(eager=True)  # stand-in for the stored index
    probe = buckets.filter(new_filter).select(
        F.col(id_col).alias("__new_id"), "band", "bucket"
    )
    hits = (
        probe.join(
            buckets.select(F.col(id_col).alias("__other"), "band", "bucket"),
            ["band", "bucket"],
        )
        .filter(F.col("__new_id") != F.col("__other"))
        .select(
            F.least("__new_id", "__other").alias("id_a"),
            F.greatest("__new_id", "__other").alias("id_b"),
        )
        .dropDuplicates()
    )
    return hits


def blocking_quality(
    candidates: DataFrame, truth: DataFrame, n_items: int
) -> DataFrame:
    """Blocking/candidate-generation quality report for entity resolution
    (Christen 2012's two standard metrics): pairs completeness = share of
    TRUE matching pairs the blocker retains (recall of the candidate
    set), and reduction ratio = share of the n·(n−1)/2 pair space the
    blocker prunes away. The trade-off every blocker (minhash bands,
    soundex keys, FS blocking) is tuned on — a blocker is only as good
    as completeness AT a reduction ratio.

    Both inputs are (id_a, id_b) pair tables with id_a < id_b (the
    house pair convention); truth should come from an EXACT generator
    (prefix_jaccard_join's 100%-recall join, or labels) or the metric
    inherits its blind spots. One semi-join + three 1-row counts, all
    cross-joined broadcast — no corpus-scale work beyond what produced
    the inputs. Emits one row: (n_items, n_cand, n_truth, n_hits,
    completeness_x1e6, reduction_x1e6) — exact integer quotients.
    """
    cand = candidates.select("id_a", "id_b").dropDuplicates().localCheckpoint(
        eager=True
    )
    tr = truth.select("id_a", "id_b").dropDuplicates().localCheckpoint(
        eager=True
    )
    hits = cand.join(tr, ["id_a", "id_b"], "left_semi")
    nc = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    nt = tr.agg(F.count(F.lit(1)).alias("n_truth"))
    nh = hits.agg(F.count(F.lit(1)).alias("n_hits"))
    total = max(n_items * (n_items - 1) // 2, 1)
    return (
        nc.crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nh))
        .select(
            F.lit(n_items).cast("long").alias("n_items"),
            F.col("n_cand").cast("long").alias("n_cand"),
            F.col("n_truth").cast("long").alias("n_truth"),
            F.col("n_hits").cast("long").alias("n_hits"),
            F.expr("n_hits * 1000000 DIV greatest(n_truth, 1)")
            .cast("long")
            .alias("completeness_x1e6"),
            F.expr(f"1000000 - n_cand * 1000000 DIV {total}")
            .cast("long")
            .alias("reduction_x1e6"),
        )
    )
