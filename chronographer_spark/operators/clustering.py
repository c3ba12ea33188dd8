"""Distributed Lloyd's k-means over embedding columns.

The trained-centroid upgrade the IVF index points at (similarity.py:230:
"k-means would drop in here; centroid *choice* is not the contract") and a
first-class corpus-curation primitive in its own right: topic bucketing,
per-cluster quota sampling, and embedding-space diagnostics all start from
a k-means partition of the document embeddings.

Spark-shape per Lloyd round:
- **assign** is MAP-ONLY: the k centroids (k × dim doubles) are baked into
  the plan as an array literal and the argmin is one `aggregate` fold with
  an explicit (dist asc, cid asc) comparison — no join, no shuffle, linear
  in corpus size (same pattern as similarity.ivf_assign).
- **update** is ONE shuffle of k × dim cells: posexplode the vector and
  average per (cluster, dimension) — partial aggregation map-side, so the
  exchange carries at most `k · dim · shuffle_partitions` rows regardless
  of corpus size. Only the k × dim centroid floats cross the driver per
  round.

Determinism across engines (the DuckDB oracle unrolls the same rounds):
initial centroids are the k lowest-id vectors read from parquet (bit-exact
in both engines), and every updated centroid component is snapped to a
1e-6 grid with `floor(x·1e6 + 0.5)/1e6` — the snap absorbs summation-order
ULP differences between Spark's and DuckDB's partial aggregates, so both
engines run round 2 from identical centroids. Clusters that receive no
members simply drop out of the next round's centroid set (documented
contract, matched by the oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _sqdist_expr(v, c):
    return F.aggregate(
        F.zip_with(v, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def assign_clusters(
    corpus: DataFrame,
    centroids: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach `cluster` = argmin squared-L2 centroid id (ties -> lowest id).

    `centroids` is a driver-side list of (cid, vector); map-only, no
    shuffle (see module docstring)."""
    cent_lit = F.array(
        *[
            F.struct(
                F.lit(int(cid)).alias("cid"),
                F.array(*[F.lit(float(x)) for x in vec]).alias("cv"),
            )
            for cid, vec in centroids
        ]
    )
    v = F.col("__v")
    dists = F.transform(
        cent_lit,
        lambda c: F.struct(_sqdist_expr(v, c["cv"]).alias("d"), c["cid"].alias("cid")),
    )
    best = F.aggregate(
        dists,
        F.struct(
            F.lit(float("inf")).alias("d"), F.lit(None).cast("integer").alias("cid")
        ),
        lambda acc, x: F.when(
            (x["d"] < acc["d"]) | ((x["d"] == acc["d"]) & (x["cid"] < acc["cid"])),
            x,
        ).otherwise(acc),
    )
    return (
        corpus.withColumn("__v", F.col(vec_col).cast("array<double>"))
        # Generate barrier: same Catalyst constraint-inference workaround as
        # similarity.ivf_assign (alias expansion through later joins)
        .withColumn("cluster", F.explode(F.array(best["cid"])))
        .drop("__v")
    )


def kmeans(
    corpus: DataFrame,
    k: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list]:
    """Lloyd's k-means; returns (assignments DF [id_col, cluster], final
    centroid list [(cid, [floats])]).

    Init: the k lowest-`id_col` vectors (deterministic, oracle-replayable);
    swap in a sampled or k-means++ init for production quality — the round
    structure is the contract, not the init."""
    if k < 1:
        raise ValueError("k must be >= 1")
    first = (
        corpus.select(id_col, F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    if not first:
        raise ValueError("kmeans requires a non-empty corpus")
    centroids = [(i, list(r["v"])) for i, r in enumerate(first)]
    assigned = None
    for _ in range(iterations):
        assigned = assign_clusters(corpus, centroids, id_col, vec_col)
        upd = (
            assigned.select(
                "cluster",
                F.posexplode(F.col(vec_col).cast("array<double>")).alias("i", "x"),
            )
            .groupBy("cluster", "i")
            .agg(
                (F.floor(F.avg("x") * 1000000 + F.lit(0.5)) / 1000000).alias("x")
            )
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("i", "x"))).alias("sx"))
            .select("cluster", F.col("sx.x").alias("v"))
            .collect()
        )
        centroids = sorted((r["cluster"], list(r["v"])) for r in upd)
    return assigned.select(id_col, "cluster"), centroids


def dbscan_grid(
    points: DataFrame,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
    eps: int = 200,
    min_pts: int = 4,
) -> DataFrame:
    """Grid-bucketed DBSCAN over integer 2-D points — the density
    clustering the k-means family can't do (arbitrary-shape clusters, an
    explicit NOISE verdict, no k to pick): the classic screen for
    "how many dense regions does this projection of the corpus have, and
    which points are stragglers" (Ester et al. 1996). Callers pre-quantize
    coordinates to an integer grid (the repo's float discipline).

    Deterministic variant, pinned identically in the oracle: core points
    (|N_eps| ≥ min_pts, counting self) cluster by connected components
    over core-core ε-edges with component = MIN core id; border points
    (non-core within ε of a core) join the MINIMUM cluster label among
    their core neighbors — classic DBSCAN leaves border assignment
    scan-order-dependent, this pins it. Everything else (noise = -1) is
    textbook.

    Scale shape — the grid IS the index, with the production cell tricks
    (GriT/cell-based DBSCAN). Cell side = ⌊ε/√2⌋ makes the cell diagonal
    ≤ ε, which buys three exemptions from the ε-join, each exact:

    - **dense-cell cores**: a point whose OWN cell holds ≥ min_pts
      points is core with no distance ever computed (same-cell pairs are
      provably ε-pairs), so exact neighbor COUNTS are only joined for
      points in sparse cells — in clustered data that is the stragglers,
      not the bulk. Together the three exemptions measured 6.5x on the
      10x soak blobs (162 s naive point-level → 24.9 s): the naive
      version's 99M-pair table was materialized once and re-shuffled
      three times; here only the cross-cell core pass enumerates pairs
      at all, and its output collapses map-side.
    - **cell-contracted CC**: same-cell cores are already mutually
      connected, so connected components run over core CELLS with the
      DISTINCT cross-cell qualifying pair list as edges — the ε-join for
      edges restricts to core points in DIFFERENT cells and its output
      collapses map-side to the tiny cell-pair list. Point-level labels
      (min core id per cell component) are then attached by one small
      join, IDENTICAL to point-level CC output — the oracle replays the
      point-level recursive definition and hashes equal.
    - **border attachment** joins only the NON-core points (fan side)
      against labeled cores.

    Every ε-candidate join is an equi-join on cell keys — each point
    fans map-only into its (2·reach+1)² neighbor cells (reach =
    ⌈ε/side⌉ = 2), every ε-pair shares the right point's home cell, no
    crossJoin, no R-tree. Cost is O(candidates actually needed), bounded
    by data density — the contract of every production DBSCAN; a
    pathological one-cell input degrades to the quadratic truth with AQE
    splitting the skewed bucket. The points+cell-count table is
    localCheckpointed once and shared by all three passes (the LSH-band
    re-execution family fix).

    Returns (id, is_core, cluster): cluster = -1 for noise.
    """
    from ..linking.canonicalize import connected_components

    side = max(int(eps / 1.4142135623730951), 1)
    reach = -(-eps // side)
    raw = points.select(
        F.col(id_col).cast("long").alias("pid"),
        F.col(x_col).cast("long").alias("px"),
        F.col(y_col).cast("long").alias("py"),
        F.floor(F.col(x_col).cast("long") / side).cast("long").alias("ccx"),
        F.floor(F.col(y_col).cast("long") / side).cast("long").alias("ccy"),
    )
    cellcnt = raw.groupBy("ccx", "ccy").agg(F.count(F.lit(1)).alias("sc"))
    pts = raw.join(cellcnt, ["ccx", "ccy"]).localCheckpoint(eager=True)

    def fan(df, cols):
        off = F.explode(
            F.array(*[
                F.struct(F.lit(dx).alias("ox"), F.lit(dy).alias("oy"))
                for dx in range(-reach, reach + 1)
                for dy in range(-reach, reach + 1)
            ])
        )
        return df.withColumn("o", off).select(
            *cols,
            (F.col("ccx") + F.col("o.ox")).alias("cx"),
            (F.col("ccy") + F.col("o.oy")).alias("cy"),
        )

    def within_eps(a_x, a_y, b_x, b_y):
        return (F.col(a_x) - F.col(b_x)) * (F.col(a_x) - F.col(b_x)) + (
            F.col(a_y) - F.col(b_y)
        ) * (F.col(a_y) - F.col(b_y)) <= F.lit(eps * eps)

    right = pts.select(
        F.col("pid").alias("id_b"),
        F.col("px").alias("xb"),
        F.col("py").alias("yb"),
        F.col("ccx").alias("cx"),
        F.col("ccy").alias("cy"),
    )
    # exact neighbor counts ONLY for points whose own cell is sparse
    sparse = pts.filter(F.col("sc") < min_pts)
    ncnt = (
        fan(
            sparse.select(F.col("pid").alias("id_a"),
                          F.col("px").alias("xa"),
                          F.col("py").alias("ya"), "ccx", "ccy"),
            [F.col("id_a"), F.col("xa"), F.col("ya")],
        )
        .join(right, ["cx", "cy"])
        .filter(F.col("id_a") != F.col("id_b"))
        .filter(within_eps("xa", "ya", "xb", "yb"))
        .groupBy("id_a")
        .agg((F.count(F.lit(1)) + 1).alias("n_eps"))
    )
    flagged = (
        pts.join(ncnt, pts.pid == ncnt.id_a, "left")
        .select(
            "pid", "px", "py", "ccx", "ccy",
            (
                (F.col("sc") >= min_pts)
                | (F.coalesce(F.col("n_eps"), F.lit(1)) >= min_pts)
            ).alias("is_core"),
        )
        .localCheckpoint(eager=True)
    )
    core = flagged.filter("is_core")
    # cell CC: cross-cell qualifying core pairs collapse map-side to
    # distinct cell pairs; same-cell cores need no edge
    core_right = core.select(
        F.col("pid").alias("id_b"),
        F.col("px").alias("xb"),
        F.col("py").alias("yb"),
        F.col("ccx").alias("cx"),
        F.col("ccy").alias("cy"),
    )
    cell_edges = (
        fan(
            core.select(F.col("pid").alias("id_a"),
                        F.col("px").alias("xa"), F.col("py").alias("ya"),
                        "ccx", "ccy"),
            [F.col("xa"), F.col("ya"),
             F.col("ccx").alias("ax"), F.col("ccy").alias("ay")],
        )
        .join(core_right, ["cx", "cy"])
        .filter((F.col("ax") != F.col("cx")) | (F.col("ay") != F.col("cy")))
        .filter(within_eps("xa", "ya", "xb", "yb"))
        .select(
            F.concat_ws("|", "ax", "ay").alias("src"),
            F.concat_ws("|", "cx", "cy").alias("dst"),
        )
        .dropDuplicates()
    )
    cc_cells = connected_components(
        cell_edges,
        all_nodes=core.select(
            F.concat_ws("|", "ccx", "ccy").alias("node")
        ).distinct(),
    )
    comp = core.join(
        cc_cells.select(
            F.split("node", "\\|")[0].cast("long").alias("ccx"),
            F.split("node", "\\|")[1].cast("long").alias("ccy"),
            "component",
        ),
        ["ccx", "ccy"],
    ).select("pid", "px", "py", "ccx", "ccy", "component")
    labels = comp.groupBy("component").agg(F.min("pid").alias("cluster"))
    core_labeled = comp.join(labels, "component")
    # border: only NON-core points fan against labeled cores
    lab_right = core_labeled.select(
        F.col("pid").alias("id_b"),
        F.col("px").alias("xb"),
        F.col("py").alias("yb"),
        F.col("ccx").alias("cx"),
        F.col("ccy").alias("cy"),
        "cluster",
    )
    border = (
        fan(
            flagged.filter(~F.col("is_core")).select(
                F.col("pid").alias("id_a"),
                F.col("px").alias("xa"), F.col("py").alias("ya"),
                "ccx", "ccy",
            ),
            [F.col("id_a"), F.col("xa"), F.col("ya")],
        )
        .join(lab_right, ["cx", "cy"])
        .filter(within_eps("xa", "ya", "xb", "yb"))
        .groupBy("id_a")
        .agg(F.min("cluster").alias("b_cluster"))
    )
    return (
        flagged.join(
            core_labeled.select("pid", F.col("cluster").alias("c_cluster")),
            "pid",
            "left",
        )
        .join(border.withColumnRenamed("id_a", "pid"), "pid", "left")
        .select(
            F.col("pid").alias(id_col),
            "is_core",
            F.when(F.col("is_core"), F.col("c_cluster"))
            .otherwise(F.coalesce(F.col("b_cluster"), F.lit(-1)))
            .cast("long")
            .alias("cluster"),
        )
    )


def clustering_agreement(
    df: DataFrame, cluster_col: str, label_col: str
) -> DataFrame:
    """External clustering evaluation against reference labels: purity,
    Rand index, and Adjusted Rand Index (Hubert & Arabie 1985) as exact
    integer quotients from the (cluster, label) contingency table — the
    did-k-means-find-the-classes readout beside kmeans/dbscan.

    Pair counts use s = Σ n·(n−1) DIV 2 (exact — the product is even);
    ARI cross-multiplies to integers: ari_x1e6 = 2·(C·s_ij − s_a·s_b)·1e6
    DIV den with den = C·(s_a+s_b) − 2·s_a·s_b ≥ 0 and C = n·(n−1)/2; a
    zero denominator only happens when BOTH partitions are trivial
    (all-singletons or one-cluster), where ARI is pinned to 1e6. The
    quartic products (C·s ≤ n⁴/4) run through DECIMAL(38,0) on Spark and
    HUGEINT in the oracle (128-bit square rule), and the ×1e6 scaling is
    the exact staged quotient (num DIV den)·1e6 + (num % den)·1e6 DIV den
    — identical to the direct 128-bit value for either sign because both
    engines truncate toward zero. Overflow bound: (num % den)·1e6 <
    den·1e6 ≤ n⁴/4·1e6 must stay under ~1e38 → n ≤ ~1.4·10⁸ rows per
    evaluation (was ~55k with BIGINT products); past that, pre-aggregate
    to a bounded contingency input.

    Plan shape: ONE shuffle to the k×l contingency cells (map-side
    combined), then cell-table-sized aggregation fan (eagerly
    checkpointed). Emits one row: (n, purity_x1e6, rand_x1e6, ari_x1e6).
    """
    cells = (
        df.select(
            F.col(cluster_col).cast("string").alias("ci"),
            F.col(label_col).cast("string").alias("lj"),
        )
        .groupBy("ci", "lj")
        .agg(F.count(F.lit(1)).alias("nij"))
        .localCheckpoint(eager=True)
    )
    sij = cells.agg(
        F.sum("nij").alias("n"),
        F.expr("sum(nij * (nij - 1) DIV 2)").alias("s_ij"),
    )
    sa = cells.groupBy("ci").agg(F.sum("nij").alias("ai")).agg(
        F.expr("sum(ai * (ai - 1) DIV 2)").alias("s_a")
    )
    sb = cells.groupBy("lj").agg(F.sum("nij").alias("bj")).agg(
        F.expr("sum(bj * (bj - 1) DIV 2)").alias("s_b")
    )
    pur = cells.groupBy("ci").agg(F.max("nij").alias("mx")).agg(
        F.sum("mx").alias("pure")
    )
    return (
        sij.crossJoin(F.broadcast(sa))
        .crossJoin(F.broadcast(sb))
        .crossJoin(F.broadcast(pur))
        .withColumn("c2", F.expr("n * (n - 1) DIV 2"))
        .withColumn(
            "ari_num",
            F.expr(
                "2 * (CAST(c2 AS DECIMAL(38,0)) * s_ij"
                " - CAST(s_a AS DECIMAL(38,0)) * s_b)"
            ),
        )
        .withColumn(
            "ari_den",
            F.expr(
                "CAST(c2 AS DECIMAL(38,0)) * (s_a + s_b)"
                " - 2 * CAST(s_a AS DECIMAL(38,0)) * s_b"
            ),
        )
        .select(
            F.col("n").cast("long").alias("n"),
            F.expr("pure * 1000000 DIV n").cast("long").alias("purity_x1e6"),
            F.expr(
                "CAST(c2 + 2 * s_ij - s_a - s_b AS DECIMAL(38,0)) * 1000000"
                " DIV greatest(c2, 1)"
            ).cast("long").alias("rand_x1e6"),
            F.expr(
                "CASE WHEN ari_den = 0 THEN CAST(1000000 AS BIGINT) ELSE"
                " (ari_num DIV ari_den) * 1000000"
                " + ((ari_num % ari_den) * 1000000) DIV ari_den"
                " END"
            ).cast("long").alias("ari_x1e6"),
        )
    )


def vmeasure(df: DataFrame, cluster_col: str, label_col: str) -> DataFrame:
    """Homogeneity / completeness / V-measure (Rosenberg & Hirschberg
    2007) for a clustering against reference labels — the
    entropy-based counterpart to clustering_agreement's pair-counting
    metrics. All entropies use the pinned msb16 16·log2 integer device:
    n·H(C) + 320n ≡ Σ_j b_j·msb16(n·2^20 DIV b_j) and n·H(C|K) + 320n ≡
    Σ_ij n_ij·msb16(a_i·2^20 DIV n_ij) — the shared 320n offset cancels
    in the ratio, so homogeneity = 1 − H(C|K)/H(C) becomes an exact
    integer quotient of msb16 sums (completeness is the transpose;
    V = harmonic mean, also integer). Degenerate marginals (H = 0 —
    single class / single cluster) pin the affected score to 1e6, the
    sklearn convention.

    One shuffle to the k×l contingency cells (checkpointed), cell-table
    math after. Emits one row: (n, homogeneity_x1e6, completeness_x1e6,
    v_x1e6).
    """
    from .sampling import _msb16_sql as _m16

    cells = (
        df.select(
            F.col(cluster_col).cast("string").alias("ci"),
            F.col(label_col).cast("string").alias("lj"),
        )
        .groupBy("ci", "lj")
        .agg(F.count(F.lit(1)).alias("nij"))
        .localCheckpoint(eager=True)
    )
    a = cells.groupBy("ci").agg(F.sum("nij").alias("ai"))
    b = cells.groupBy("lj").agg(F.sum("nij").alias("bj"))
    n_row = cells.agg(F.sum("nij").alias("n"))
    hc = (
        b.crossJoin(F.broadcast(n_row))
        .agg(
            F.sum(
                F.expr(f"bj * ({_m16('n * 1048576 DIV bj')})")
            ).alias("hc16")
        )
    )
    hk = (
        a.crossJoin(F.broadcast(n_row))
        .agg(
            F.sum(
                F.expr(f"ai * ({_m16('n * 1048576 DIV ai')})")
            ).alias("hk16")
        )
    )
    cond_ck = (
        cells.join(a, "ci")
        .agg(
            F.sum(F.expr(f"nij * ({_m16('ai * 1048576 DIV nij')})")).alias(
                "ck16"
            )
        )
    )
    cond_kc = (
        cells.join(b, "lj")
        .agg(
            F.sum(F.expr(f"nij * ({_m16('bj * 1048576 DIV nij')})")).alias(
                "kc16"
            )
        )
    )
    return (
        n_row.crossJoin(F.broadcast(hc))
        .crossJoin(F.broadcast(hk))
        .crossJoin(F.broadcast(cond_ck))
        .crossJoin(F.broadcast(cond_kc))
        .select(
            F.col("n").cast("long").alias("n"),
            F.expr(
                "CASE WHEN hc16 - 320 * n <= 0 THEN CAST(1000000 AS BIGINT)"
                " ELSE 1000000 - (ck16 - 320 * n) * 1000000"
                " DIV (hc16 - 320 * n) END"
            ).cast("long").alias("homogeneity_x1e6"),
            F.expr(
                "CASE WHEN hk16 - 320 * n <= 0 THEN CAST(1000000 AS BIGINT)"
                " ELSE 1000000 - (kc16 - 320 * n) * 1000000"
                " DIV (hk16 - 320 * n) END"
            ).cast("long").alias("completeness_x1e6"),
        )
        .withColumn(
            "v_x1e6",
            F.expr(
                "CASE WHEN homogeneity_x1e6 + completeness_x1e6 = 0"
                " THEN CAST(0 AS BIGINT) ELSE"
                " 2 * homogeneity_x1e6 * completeness_x1e6"
                " DIV (homogeneity_x1e6 + completeness_x1e6) END"
            ).cast("long"),
        )
    )


def simplified_silhouette(
    df: DataFrame,
    centroids: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Simplified silhouette over int8-quantized vectors and INTEGER
    squared distances: per vector a = sqdist to its own (nearest)
    centroid, b = sqdist to the best OTHER centroid, s = (b − a)·1e6 DIV
    max(a, b, 1) — the internal did-k-fit score beside the external
    clustering_agreement/vmeasure (Hruschka's simplified variant:
    centroid distances instead of all-pairs, the only formulation that
    scales; squared distances keep it exact-integer — the score is the
    squared-distance silhouette, monotone-compatible with the classic
    one at the decision boundaries that matter: s > 0 iff the own
    centroid is closest).

    `centroids` is the driver-side [(cid, [floats])] list kmeans
    returns; they are quantized with the SAME per-vector int8 rule as
    the corpus. Map-only scoring against broadcast centroid literals +
    one cluster rollup. Emits per cluster plus `__overall__`:
    (cluster, n, mean_s_x1e6).
    """
    from .similarity import int_sqdist, quantize_vectors

    qz = quantize_vectors(df.select(id_col, vec_col), vec_col).select(
        F.col(id_col).alias("vid"), F.col("qvec").alias("q")
    )
    import math

    # quantize each centroid with the same per-vector int8 rule
    def _q8(vec):
        m = max(abs(x) for x in vec)
        if m == 0:
            return [0 for _ in vec]
        return [int(math.floor(x * 127.0 / m + 0.5)) for x in vec]

    cent_lit = F.array(
        *[
            F.struct(
                F.lit(int(cid)).alias("cid"),
                F.array(*[F.lit(int(x)) for x in _q8(vec)]).alias("cv"),
            )
            for cid, vec in centroids
        ]
    )
    dists = F.transform(
        cent_lit,
        lambda c: F.struct(
            int_sqdist(F.col("q"), c["cv"]).alias("d"), c["cid"].alias("cid")
        ),
    )
    scored = qz.select("vid", dists.alias("ds")).select(
        "vid",
        F.expr(
            "array_sort(ds, (l, r) -> CASE WHEN l.d < r.d THEN -1"
            " WHEN l.d > r.d THEN 1 WHEN l.cid < r.cid THEN -1"
            " WHEN l.cid > r.cid THEN 1 ELSE 0 END)"
        ).alias("sorted"),
    ).select(
        "vid",
        F.expr("sorted[0].cid").alias("cluster"),
        F.expr("sorted[0].d").alias("a"),
        F.expr("sorted[1].d").alias("b"),
    ).withColumn(
        "s_x1e6",
        F.expr("(b - a) * 1000000 DIV greatest(greatest(a, b), 1)").cast(
            "long"
        ),
    ).localCheckpoint(eager=True)
    per = scored.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("sum(s_x1e6) DIV count(1)").alias("mean_s_x1e6"),
    ).select(
        F.col("cluster").cast("string").alias("cluster"),
        F.col("n").cast("long").alias("n"),
        F.col("mean_s_x1e6").cast("long").alias("mean_s_x1e6"),
    )
    overall = scored.agg(
        F.lit("__overall__").alias("cluster"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("sum(s_x1e6) DIV count(1)").cast("long").alias("mean_s_x1e6"),
    )
    return per.unionByName(overall)
