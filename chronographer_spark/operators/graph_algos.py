"""Iterative graph algorithms over edge DataFrames.

- transitive_closure: subClassOf-to-root walk (reference:
  src/interface.py:52-64 recursive per-node; src/extract_domain_range.py:
  136-152 approximates ONE extra hop — we compute the true fixpoint, an
  improvement the survey calls out in §2.9 G6).
- n_hop_neighbors: ConceptNet-style bounded expansion (reference:
  src/build_ng/concept_net.py:92-124).

Both use doubling/iterated hash joins with per-round localCheckpoint to cut
lineage; small dimension tables, so rounds are cheap; for web-scale edges
the same loop holds (joins shuffle on the join key; AQE splits skewed hubs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoints import observed_checkpoint, release_checkpoint


def transitive_closure(
    edges: DataFrame, max_iter: int = 20
) -> DataFrame:
    """edges(child, parent) -> all (child, ancestor) pairs (fixpoint)."""
    closure = edges.select("child", F.col("parent").alias("ancestor")).dropDuplicates()
    closure = closure.localCheckpoint(eager=True)
    for _ in range(max_iter):
        # join current closure's frontier with direct edges one more hop
        nxt = (
            closure.alias("c")
            .join(edges.alias("e"), F.col("c.ancestor") == F.col("e.child"))
            .select(F.col("c.child").alias("child"), F.col("e.parent").alias("ancestor"))
        )
        merged = closure.unionByName(nxt).dropDuplicates().localCheckpoint(eager=True)
        if merged.count() == closure.count():
            return merged
        closure = merged
    return closure


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 3,
    all_nodes: DataFrame | None = None,
    dangling: bool = False,
    tol: float | None = None,
    weight_col: str | None = None,
    init_ranks: DataFrame | None = None,
    return_iters: bool = False,
) -> DataFrame:
    """Classic (unnormalized) PageRank over (src, dst) edges:
    rank := (1-d) + d · (Σ rank(in-neighbor)/outdeg [+ dangling_mass/N]).

    The KG-usage ranking primitive (event/entity importance over the built
    narrative graph) and the engine's second iterative-joins algorithm
    family beside connected components.

    Plan: the out-degree is joined into the edges once and that adjacency
    is checkpointed, as are the initial ranks (each node carries a sink
    flag: no out-edges). A round is ONE action, its eager
    localCheckpoint: the adjacency joined with the ranks gives the
    contributions, and they meet the ranks rows in one aggregate per node
    (the left join of the summed contributions onto the ranks, without
    shuffling the ranks a second time). The scalars the next step needs
    ride on that checkpoint as an `Observation` — max |new − old| for
    `tol`, the sink mass for `dangling` — so neither option adds a job.
    Superseded rounds' blocks are released as the loop goes.

    Options:
    - `dangling=True` redistributes sink-node mass uniformly: per round the
      total rank of nodes with no out-edges is spread as
      `d · mass / N` over every node, so total rank is conserved at N (the
      fixed-point of the row-stochastic transition).
    - `tol` stops early once max |Δrank| < tol between rounds; `iterations`
      then acts as the round cap.

    - `weight_col` makes rank flow PROPORTIONAL to edge weight (share of
      the source's total out-weight) instead of uniformly over out-edges —
      the variant a trade/mention/co-occurrence graph actually wants
      (an edge carrying 90% of a node's interactions should carry 90% of
      its endorsement). None reproduces the uniform split exactly.

    Defaults (dangling=False, tol=None, weight_col=None) reproduce the
    fixed-iteration variant the `pagerank_2iter` gate pins: sinks
    contribute nothing.
    Deterministic up to float summation order; gate values are scaled with
    a wide margin.
    """
    # one row per node; a node is a sink unless it is some edge's source
    nodes = edges.select(
        F.col("src").alias("node"), F.lit(False).alias("sink")
    ).unionByName(
        edges.select(F.col("dst").alias("node"), F.lit(True).alias("sink"))
    )
    if all_nodes is not None:
        nodes = nodes.unionByName(
            all_nodes.select("node", F.lit(True).alias("sink"))
        )
    nodes = nodes.groupBy("node").agg(F.min("sink").alias("sink"))
    wcols = [weight_col] if weight_col else []
    wsum = (
        F.sum(F.col(weight_col).cast("double")) if weight_col else F.count("*")
    )
    outdeg = edges.groupBy("src").agg(wsum.alias("__d"))
    adj = (
        edges.select("src", "dst", *wcols)
        .join(outdeg, "src")
        .localCheckpoint(eager=True)
    )
    if init_ranks is not None:
        # warm start: resume from a stored labeling (the incremental-append
        # regime — after a small edge batch the prior ranks are near the new
        # fixed point, so far fewer rounds reach `tol` than a cold 1.0 start;
        # nodes absent from the prior start cold at 1.0)
        ranks = nodes.join(
            init_ranks.select("node", F.col("rank").alias("__r0")),
            "node",
            "left",
        ).select("node", F.coalesce("__r0", F.lit(1.0)).alias("rank"), "sink")
    else:
        ranks = nodes.withColumn("rank", F.lit(1.0))
    # the sink mass of each rank table feeds the next round's dangling share
    sink_mass = F.sum(F.when(F.col("sink"), F.col("rank"))).alias("sink_mass")
    ranks, seen = observed_checkpoint(
        ranks, sink_mass, F.count(F.lit(1)).alias("n")
    )
    n_nodes = seen["n"]
    flow = (
        (F.col("rank") * F.col(weight_col).cast("double") / F.col("__d"))
        if weight_col
        else (F.col("rank") / F.col("__d"))
    )
    iters_run = 0
    for _ in range(iterations):
        iters_run += 1
        share = 0.0
        if dangling and n_nodes:
            share = (seen["sink_mass"] or 0.0) / n_nodes
        # the round's contributions and the current ranks meet in ONE
        # aggregate per node (every edge target is a node): m sums the
        # contributions, the ranks rows carry the old rank and sink flag
        contribs = adj.join(
            ranks.select(F.col("node").alias("src"), "rank"), "src"
        ).select(
            F.col("dst").alias("node"),
            flow.alias("c"),
            F.lit(None).cast("double").alias("rank"),
            F.lit(None).cast("boolean").alias("sink"),
        )
        grouped = (
            ranks.select(
                "node", F.lit(None).cast("double").alias("c"), "rank", "sink"
            )
            .unionByName(contribs)
            .groupBy("node")
            .agg(
                F.sum("c").alias("m"),
                F.max("rank").alias("__old"),
                F.max("sink").alias("sink"),
            )
        )
        new_ranks, seen = observed_checkpoint(
            grouped.select(
                "node",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping)
                    * (F.coalesce("m", F.lit(0.0)) + F.lit(share))
                ).alias("rank"),
                "sink",
                "__old",
            ),
            sink_mass,
            F.max(F.abs(F.col("rank") - F.col("__old"))).alias("delta"),
        )
        release_checkpoint(ranks)
        ranks = new_ranks
        if tol is not None and seen["delta"] is not None and seen["delta"] < tol:
            break
    release_checkpoint(adj)
    ranks = ranks.select("node", "rank")
    if return_iters:
        return ranks, iters_run
    return ranks


def n_hop_neighbors(
    edges: DataFrame, seeds: DataFrame, hops: int = 2
) -> DataFrame:
    """(src, dst) edges + seeds(node) -> (node, hop) reachable within `hops`
    (directed; hop = first distance at which the node is reached)."""
    spark = edges.sparkSession
    visited = seeds.select("node").dropDuplicates().withColumn("hop", F.lit(0))
    frontier = visited
    for h in range(1, hops + 1):
        nxt = (
            edges.join(
                F.broadcast(frontier.select("node")),
                edges["src"] == F.col("node"),
                "left_semi",
            )
            .select(F.col("dst").alias("node"))
            .dropDuplicates()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hop", F.lit(h))
        )
        nxt = nxt.localCheckpoint(eager=True)
        if nxt.limit(1).count() == 0:
            break
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Exact triangle count of the undirected graph, one-row (n_triangles).

    Node-iterator++ (Schank & Wagner 2005; the MapReduce form is Suri &
    Vassilvitskii 2011's degree-ordered orientation): canonicalize edges,
    then orient every edge from its (degree, id)-SMALLER endpoint to the
    larger. Wedges are generated only at each edge's low-degree end, so a
    hub of degree d contributes O(d) oriented edges but almost no wedges —
    total wedge count is bounded by sum of squared ORIENTED out-degrees,
    O(m^1.5) worst-case instead of the hub-quadratic O(Σd²) of naive
    wedge-join. This is the difference between feasible and not on a
    power-law web graph.

    Shape: two self-joins (wedge build + closing-edge probe), both
    shuffling on node keys; AQE's skew split covers residual imbalance.
    Self-loops dropped, parallel edges collapsed.
    """
    u, v = F.col(src), F.col(dst)
    e = (
        edges.filter(u != v)
        .select(F.least(u, v).alias("a"), F.greatest(u, v).alias("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ed = (
        e.join(deg.withColumnRenamed("n", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("n", "b").withColumnRenamed("d", "db"), "b")
    )
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = ed.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("da")).otherwise(F.col("db")).alias("du"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lower_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    )
    w1 = oriented.select(
        F.col("u"), F.col("v").alias("x"), F.col("dv").alias("dx")
    )
    w2 = oriented.select(
        F.col("u"), F.col("v").alias("y"), F.col("dv").alias("dy")
    )
    # wedge (x, y) with x before y in the orientation's total (degree, id)
    # order; the closing edge, if present, is oriented x -> y
    wedges = w1.join(w2, "u").filter(
        (F.col("dx") < F.col("dy"))
        | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    )
    closing = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tri = wedges.join(closing, ["x", "y"], "left_semi")
    return tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))


def label_propagation(edges: DataFrame, iterations: int = 2) -> DataFrame:
    """Synchronous label-propagation community detection over undirected
    (src, dst) edges, made fully deterministic: each round every node
    adopts its neighbors' most frequent current label, ties broken by the
    SMALLEST label; isolated appearances keep their label. Labels start as
    the node ids themselves.

    The third iterative-joins family beside connected components and
    PageRank (reference has no community stage; this serves "cluster the
    entity graph" analytics over the built KG). Per round: one hash join
    (labels onto the symmetrized edge list), one (node, label) count, one
    deterministic arg-max — all shuffles keyed by node, hub skew handled
    the same way the CC rounds are (AQE skew split; no driver state).
    Per-round eager localCheckpoint cuts lineage exactly like pagerank.

    Returns (node, label). Requires numeric node ids (the tie-break
    negates the label inside a struct max).
    """
    sym = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    nodes = sym.select(F.col("src").alias("node")).dropDuplicates()
    sym = sym.localCheckpoint(eager=True)
    labels = nodes.withColumn("label", F.col("node"))
    for _ in range(iterations):
        votes = (
            sym.join(labels, sym["src"] == labels["node"])
            .select(F.col("dst").alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        picked = (
            votes.groupBy("node")
            .agg(F.max(F.struct(F.col("c"), (-F.col("label")).alias("nl"))).alias("m"))
            .select("node", (-F.col("m.nl")).alias("label"))
        )
        labels = (
            nodes.join(picked, "node", "left")
            .select("node", F.coalesce(picked["label"], F.col("node")).alias("label"))
            .localCheckpoint(eager=True)
        )
    return labels


def k_core(
    edges: DataFrame,
    k: int = 2,
    max_rounds: int = 20,
    exact_rounds: bool = False,
) -> DataFrame:
    """k-core decomposition by iterative peeling over undirected (src, dst)
    edges: repeatedly drop every node of degree < k until the fixpoint.
    The densest-subgraph pruning primitive (spam/hub trimming in entity
    graphs, community-core extraction) — the fourth iterative-joins family
    beside connected components, PageRank, and label propagation (the
    reference has no graph-pruning stage; added capability).

    Per round: one degree aggregate, two semi-joins (both endpoints must
    survive), per-round eager localCheckpoint to cut lineage — every
    shuffle keyed by a node id, hub skew handled by AQE like the CC rounds.
    Convergence is an edge-count equality check (one scalar per round, same
    O(1) driver traffic as the CC fingerprint).

    `exact_rounds=True` runs exactly `max_rounds` peels with no early-stop
    so a round-unrolled SQL oracle can replay the output bit-for-bit even
    when the fixpoint lands earlier; the default stops at the fixpoint.

    Input direction and duplicate pairs are ignored (symmetrized +
    dedup'ed); self-loops are dropped. Returns (node, degree) over the
    surviving edge set — at the fixpoint every degree is >= k.
    """
    und = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    sym = (
        und.unionByName(
            und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    cur = sym
    for _ in range(max_rounds):
        deg = cur.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
        keep = deg.filter(F.col("degree") >= k).select("src")
        nxt = (
            cur.join(keep, "src", "left_semi")
            .join(keep.select(F.col("src").alias("dst")), "dst", "left_semi")
            .localCheckpoint(eager=True)
        )
        if not exact_rounds and nxt.count() == cur.count():
            cur = nxt
            break
        cur = nxt
    return cur.groupBy("src").agg(F.count(F.lit(1)).alias("degree")).select(
        F.col("src").alias("node"), "degree"
    )


def neighborhood_overlap(
    edges: DataFrame,
    min_common: int = 1,
) -> DataFrame:
    """Common-neighbor / neighborhood-Jaccard scores for node pairs — the
    classic link-prediction features (Liben-Nowell & Kleinberg 2003) over
    an undirected graph. In the KG pipeline this ranks candidate entity
    merges and missing links after canonicalization: two entities sharing
    most of their neighborhoods are merge/link suspects even when no LSH
    text signal fires (added capability; the reference links entities by
    surface form only).

    Shape: one wedge self-join of the symmetrized adjacency on the shared
    neighbor (pairs ordered node_a < node_b), one count per pair, degrees
    joined in. A hub of degree d contributes C(d,2) wedge pairs — the same
    skew exposure as triangle counting; cap it upstream (k_core / degree
    filter) or let AQE split the hub partitions, both documented there.
    `min_common` prunes the long tail before the degree joins.

    Returns (node_a, node_b, n_common, deg_a, deg_b, jac_x1e6) where
    jac_x1e6 = |N(a) ∩ N(b)| / |N(a) ∪ N(b)| scaled — integer-derived, so
    engine-exact.
    """
    und = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    sym = (
        und.unionByName(
            und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    a = sym.select(F.col("src").alias("node_a"), "dst")
    b = sym.select(F.col("src").alias("node_b"), "dst")
    common = (
        a.join(b, "dst")
        .filter(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    out = (
        common.join(deg.select(F.col("src").alias("node_a"), F.col("deg").alias("deg_a")), "node_a")
        .join(deg.select(F.col("src").alias("node_b"), F.col("deg").alias("deg_b")), "node_b")
    )
    union = F.col("deg_a") + F.col("deg_b") - F.col("n_common")
    return out.select(
        "node_a",
        "node_b",
        "n_common",
        "deg_a",
        "deg_b",
        F.floor(F.col("n_common").cast("double") / union * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("jac_x1e6"),
    )


def resource_allocation(
    edges: DataFrame,
    min_common: int = 1,
) -> DataFrame:
    """Resource-allocation link-prediction index (Zhou, Lü & Zhang 2009):
    for a node pair (a, b), RA = Σ_{z ∈ N(a)∩N(b)} 1/deg(z) — the
    degree-weighted sibling of `neighborhood_overlap`'s raw common-neighbor
    count. A shared neighbor that connects to everything (a hub type, a
    stopword-like entity) contributes almost nothing, while an exclusive
    shared neighbor contributes a full unit — empirically the strongest of
    the classic local link-prediction indices and the robust stand-in for
    Adamic-Adar (whose 1/log deg needs floats; 1/deg is exact-integer).
    In the KG pipeline this ranks candidate entity merges where
    `neighborhood_overlap` over-scores pairs that only share hubs.

    Exact-integer contract: each shared neighbor z contributes
    `1000000 DIV deg(z)` (deg(z) >= 2 for any common neighbor, so no zero
    division); the summed `ra_x1e6` is engine-exact — DuckDB's integer `//`
    truncates identically (CLAUDE.md sign caveat; all values positive here).

    Shape: the same single wedge self-join as `neighborhood_overlap`, but
    the shared-neighbor side pre-joins its own degree so the per-pair
    aggregate is one map-side-combinable sum — no extra shuffle vs the
    plain common-neighbor count, and the pair's own degrees are never
    needed (no trailing degree joins). Hub-wedge skew (C(d,2) pairs per
    shared neighbor of degree d) is shared with triangle counting; cap
    upstream or let AQE split, both documented there. `min_common` prunes
    the long tail inside the same aggregate.

    Returns (node_a, node_b, n_common, ra_x1e6), node_a < node_b.
    """
    und = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    sym = (
        und.unionByName(
            und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    deg_z = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg_z"))
    a = sym.join(
        deg_z.select(F.col("src").alias("dst"), "deg_z"), "dst"
    ).select(F.col("src").alias("node_a"), "dst", "deg_z")
    b = sym.select(F.col("src").alias("node_b"), "dst")
    return (
        a.join(b, "dst")
        .filter(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(F.expr("CAST(1000000 AS BIGINT) DIV deg_z")).alias("ra_x1e6"),
        )
        .filter(F.col("n_common") >= min_common)
    )


def random_walks(
    edges: DataFrame,
    n_steps: int = 2,
    starts: DataFrame | None = None,
    seed: str = "walk",
    bucket: int = 1024,
) -> DataFrame:
    """Deterministic hash-seeded uniform random walks over directed
    (src, dst) edges — the sampling stage of DeepWalk/node2vec-style graph
    embedding training, re-expressed as per-step joins against a bucketed
    adjacency table (no RNG state, no driver loop over nodes).

    At step i a walk at node v picks out-neighbor index
    k = md5_32(seed|walk_id|i|v) mod deg(v) over v's DISTINCT neighbors
    sorted ascending — the adjacency-array indexing every production
    DeepWalk implementation uses, made byte-reproducible (md5 is portable;
    the DuckDB oracle replays the same index pick). Dead-end walks simply
    stop. The reference's traversal picks ONE best node per iteration
    driver-side (src/selecting_node.py ranking); walks are the
    embarrassingly parallel generalization: |starts| trajectories per pass.

    Scale shape — the hub case is the whole design: a naive per-neighbor
    arg-min materializes |walks at hub| x deg(hub) candidate rows (measured
    quadratic on a 5-hub bipartite graph). Index picking instead joins the
    frontier with (a) the one-row-per-node degree table to compute k, then
    (b) exactly ONE adjacency bucket of <= `bucket` neighbors
    (b_id = k DIV bucket, offset = k MOD bucket), so per-walk-step cost is
    O(bucket) regardless of hub degree. Both joins are keyed by the
    current node; AQE skew split covers walks piling on one hub. Modulo
    bias of the 32-bit hash is negligible for deg << 2^32. Per-step eager
    localCheckpoint cuts lineage.

    Returns (walk_id, step, node): step 0 is the start node itself.
    walk_id defaults to the start node id (one walk per distinct src).
    """
    from pyspark.sql.window import Window

    nb = (
        edges.select(
            F.col("src").cast("string").alias("src"),
            F.col("dst").cast("string").alias("dst"),
        )
        .dropDuplicates(["src", "dst"])
    )
    w = Window.partitionBy("src").orderBy("dst")
    idx = nb.withColumn("i", F.row_number().over(w) - 1)
    deg = idx.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).localCheckpoint(
        eager=True
    )
    abuckets = (
        idx.withColumn("b_id", F.expr(f"i DIV {int(bucket)}"))
        .withColumn("off", F.expr(f"i % {int(bucket)}"))
        .groupBy("src", "b_id")
        .agg(
            F.expr("transform(sort_array(collect_list(struct(off, dst))), s -> s.dst)").alias(
                "nbrs"
            )
        )
        .localCheckpoint(eager=True)
    )
    if starts is None:
        starts = nb.select(F.col("src").alias("node")).dropDuplicates()
    frontier = starts.select(
        F.col("node").cast("string").alias("walk_id"),
        F.col("node").cast("string").alias("cur"),
    )
    out = frontier.select("walk_id", F.lit(0).alias("step"), F.col("cur").alias("node"))
    for i in range(1, n_steps + 1):
        h = F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.lit(seed), "walk_id", F.lit(str(i)), "cur")),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        picked = (
            frontier.join(deg, frontier["cur"] == deg["src"])
            .withColumn("k", F.pmod(h, F.col("deg")))
            .withColumn("b_id", F.expr(f"k DIV {int(bucket)}"))
            .select("walk_id", "cur", "k", "b_id")
        )
        frontier = (
            picked.join(
                abuckets,
                (picked["cur"] == abuckets["src"]) & (picked["b_id"] == abuckets["b_id"]),
            )
            .select(
                "walk_id",
                F.element_at(
                    F.col("nbrs"), (F.col("k") % F.lit(int(bucket))).cast("int") + 1
                ).alias("cur"),
            )
            .localCheckpoint(eager=True)
        )
        out = out.unionByName(
            frontier.select(
                "walk_id", F.lit(i).alias("step"), F.col("cur").alias("node")
            )
        )
    return out


def walk_skipgrams(walks: DataFrame, window: int = 2) -> DataFrame:
    """Skip-gram (center, context) pair counts from a random-walk corpus —
    the training-pair extraction DeepWalk/node2vec feeds to the embedding
    learner. Input is random_walks() output (walk_id, step, node); emits
    every ordered pair within `window` steps on the same walk, counted
    corpus-wide.

    One self-join keyed by walk_id (each walk is tiny — n_steps+1 rows —
    so the join fan-out is bounded by walk length squared, not corpus
    size) followed by one map-side-combinable (center, context) count.

    Returns (center, context, n_pairs).
    """
    a = walks.select(
        "walk_id", F.col("step").alias("s_a"), F.col("node").alias("center")
    )
    b = walks.select(
        "walk_id", F.col("step").alias("s_b"), F.col("node").alias("context")
    )
    pairs = a.join(b, "walk_id").filter(
        (F.abs(F.col("s_a") - F.col("s_b")) <= window)
        & (F.col("s_a") != F.col("s_b"))
    )
    return pairs.groupBy("center", "context").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


def negative_samples(
    pairs: DataFrame,
    k: int = 5,
    target_slots: int = 1 << 16,
    seed: str = "neg",
    n_parts: int = 32,
) -> DataFrame:
    """Deterministic word2vec-style negative sampling over skip-gram pair
    counts — the third stage of the embedding-training-data path
    (random_walks -> walk_skipgrams -> negative_samples). For every
    (center, context) pair, draws `k` negatives from the 3/4-power-smoothed
    context-frequency distribution via the exact unigram-table algorithm
    word2vec itself uses: a ~`target_slots`-row table where node v occupies
    slots proportional to n(v)^0.75, indexed by a portable hash.

    Cross-engine exactness without a float grid: n^0.75 is computed as
    floor(sqrt(sqrt(n*n*n))) in DOUBLE — IEEE multiply and sqrt are
    correctly rounded in both the JVM and DuckDB, so the smoothed integer
    weights (and hence every draw) are bit-identical across engines.
    Slot counts are then pure integer arithmetic:
    slots(v) = max(1, (w*target) DIV W). The reference has no sampling
    stage (its embedding inputs come whole from psychiq/wembedder,
    src/ranking.py); this belongs to the training-data side of the engine.

    Scale shape: the vocabulary prefix sum reuses pack_sequences' TWO-PHASE
    range-partition cumsum (never a single-partition window); the slot
    table is a map-only explode of ~target_slots rows total (word2vec uses
    a fixed 1e8-slot table at any corpus size — same idea); the draw join
    is keyed by slot id, whose hash-uniform distribution makes it the rare
    join with NO skew by construction. Only the two scalar totals (W, T)
    cross the plan, as 1-row broadcasts. Accidental hits (negative equal
    to the pair's center or context) are dropped rather than re-drawn —
    word2vec resamples; a bounded per-pair count loss keeps the op a pure
    two-join dataflow, and the oracle replays the same drop.

    Returns (center, context, neg_idx, negative) with neg_idx in 1..k.
    """
    from .packing import pack_sequences

    vocab = pairs.groupBy(F.col("context").alias("node")).agg(
        F.sum("n_pairs").alias("n")
    )
    cube = F.col("n").cast("double") * F.col("n") * F.col("n")
    vw = vocab.select(
        "node",
        F.greatest(
            F.lit(1).cast("long"), F.floor(F.sqrt(F.sqrt(cube))).cast("long")
        ).alias("w"),
    )
    tot_w = vw.agg(F.sum("w").alias("_W"))
    vs = (
        vw.crossJoin(F.broadcast(tot_w))
        .select(
            "node",
            F.greatest(
                F.lit(1).cast("long"),
                F.expr(f"(w * CAST({int(target_slots)} AS BIGINT)) DIV _W"),
            ).alias("slots"),
        )
    )
    spans = pack_sequences(
        vs, id_col="node", token_col="slots", budget=1 << 40,
        order_col="node", n_parts=n_parts,
    )
    slot_table = spans.select(
        F.col("id").alias("negative"),
        F.explode(
            F.sequence(
                F.col("cum_before"), F.col("cum_before") + F.col("n_tokens") - 1
            )
        ).alias("slot"),
    )
    tot_t = slot_table.agg(F.count(F.lit(1)).alias("_T"))
    draws = (
        pairs.select("center", "context")
        .withColumn("neg_idx", F.explode(F.sequence(F.lit(1), F.lit(int(k)))))
        .crossJoin(F.broadcast(tot_t))
        .withColumn(
            "slot",
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                "|", F.lit(seed), "center", "context",
                                F.col("neg_idx").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long"),
                F.col("_T"),
            ),
        )
    )
    return (
        draws.join(slot_table, "slot")
        .filter(
            (F.col("negative") != F.col("center"))
            & (F.col("negative") != F.col("context"))
        )
        .select("center", "context", "neg_idx", "negative")
    )


def metapath_counts(
    triples: DataFrame,
    subj_col: str = "subject",
    pred_col: str = "predicate",
    obj_col: str = "object",
) -> DataFrame:
    """2-edge metapath census over a triple table — for every ordered
    predicate pair (p1, p2), the number of paths s -p1-> m -p2-> o. The
    schema-discovery query a KG consumer runs to learn which predicate
    chains exist (which joins are worth writing) before touching instances.

    Scale design — NO wedge join: n_paths(p1, p2) = Σ_m in_deg_p1(m) ·
    out_deg_p2(m), so the op is two (node, predicate) degree aggregations
    joined on the middle node and summed. Per-node join fan-out is bounded
    by the PREDICATE-pair count at that node (schema-sized), not by degree
    — a hub with a million in/out edges contributes one multiplication
    per predicate pair, where the naive self-join on object=subject
    materializes the full quadratic wedge set (the same blowup
    triangle_count's degree ordering exists to avoid). Counts are exact.

    Returns (p1, p2, n_paths), n_paths > 0 only.
    """
    ind = triples.groupBy(
        F.col(obj_col).alias("mid"), F.col(pred_col).alias("p1")
    ).agg(F.count(F.lit(1)).alias("_in"))
    outd = triples.groupBy(
        F.col(subj_col).alias("mid"), F.col(pred_col).alias("p2")
    ).agg(F.count(F.lit(1)).alias("_out"))
    return (
        ind.join(outd, "mid")
        .groupBy("p1", "p2")
        .agg(F.sum(F.col("_in") * F.col("_out")).alias("n_paths"))
    )


def degree_histogram(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Log2-bucketed out/in-degree distribution of a directed edge list —
    the one-page skew report read before choosing a join strategy (how
    heavy is the hub tail AQE skew-split / salting must absorb?).

    bucket = floor(log2(degree)) computed as bit length - 1 (pure integer,
    no float log: degree in [2^b, 2^(b+1)) lands in bucket b). Two degree
    aggregations and a tiny bucket count; output is at most ~64 rows per
    side.

    Returns (side, bucket, n_nodes) with side in ('out', 'in').
    """
    def hist(col: str, side: str) -> DataFrame:
        deg = edges.groupBy(F.col(col).alias("node")).agg(
            F.count(F.lit(1)).alias("deg")
        )
        bucket = (
            F.length(F.conv(F.col("deg").cast("string"), 10, 2)) - 1
        ).cast("int")
        return (
            deg.select(F.lit(side).alias("side"), bucket.alias("bucket"))
            .groupBy("side", "bucket")
            .agg(F.count(F.lit(1)).alias("n_nodes"))
        )

    return hist(src_col, "out").unionByName(hist(dst_col, "in"))


def hyperball(
    edges: DataFrame,
    rounds: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """HyperBall (Boldi & Vigna 2013): per-node approximate ball sizes
    |B(v, t)| for t = 0..rounds — every node carries an HLL register set
    over the ids reachable from it, and each round merges every
    out-neighbor's registers into the node's own. The canonical way to
    get neighborhood functions / effective-diameter / centrality signals
    from a trillion-edge graph, because the per-node state is a CONSTANT
    64 registers however large the ball gets (an exact frontier set, as in
    n_hop_neighbors, grows with the ball and is the thing that dies at
    scale; the reference has no neighborhood-function surface at all —
    nearest is the per-node recursive walk in src/interface.py:52-64).

    Scale shape: the register table is ≤ 64·V rows for the whole graph.
    Each round is ONE edge join (registers keyed by dst fan out to src —
    AQE skew split covers hubs) + ONE (node, bucket) groupBy-max with
    map-side partials; per-round eager localCheckpoint cuts lineage like
    every other iterative loop in this module. Estimates reuse
    sketches.hll_estimate_by (md5-portable registers, linear-counting
    small-range correction — balls are routinely ≪ 64), so a DuckDB
    oracle replays every estimate bit-for-bit.

    Balls follow edge direction; pass a symmetrized edge list for
    undirected balls. Returns (node, t, estimate) for t = 0..rounds,
    estimate(t=0) ≈ 1 by construction.
    """
    from .sketches import hll_estimate_by, hll_registers_by

    nodes = (
        edges.select(F.col(src_col).alias("node"))
        .unionByName(edges.select(F.col(dst_col).alias("node")))
        .dropDuplicates()
    )
    regs = hll_registers_by(nodes, "node", "node").localCheckpoint(eager=True)
    e = edges.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("_d"))

    def _est(registers: DataFrame, t: int) -> DataFrame:
        return hll_estimate_by(registers).select(
            F.col("grp").alias("node"), F.lit(t).alias("t"), "estimate"
        )

    out = _est(regs, 0)
    for t in range(1, rounds + 1):
        contrib = e.join(regs, e["_d"] == regs["grp"]).select(
            F.col("_s").alias("grp"), "bucket", "rho"
        )
        regs = (
            regs.unionByName(contrib)
            .groupBy("grp", "bucket")
            .agg(F.max("rho").alias("rho"))
            .localCheckpoint(eager=True)
        )
        out = out.unionByName(_est(regs, t))
    return out


def community_stats(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-community shape report over a node labeling (label_propagation
    output or any (node, label) table): member count, internal edge count
    (both endpoints share the label), and cut size (edges with exactly one
    endpoint in the community, counted for both sides' communities) — the
    inputs to modularity/conductance-style quality judgments without
    emitting any float.

    One labeled-edge join (two label lookups keyed by node — AQE skew
    split covers hub labels) materialized once for the internal and cut
    aggregations; all three counts are map-side combinable.

    Returns (label, n_nodes, n_internal, n_cut).
    """
    l1 = labels.select(F.col("node").alias("src"), F.col("label").alias("ls"))
    l2 = labels.select(F.col("node").alias("dst"), F.col("label").alias("ld"))
    e = (
        edges.select("src", "dst")
        .join(l1, "src")
        .join(l2, "dst")
        .localCheckpoint(eager=True)
    )
    nn = labels.groupBy("label").agg(F.count(F.lit(1)).alias("n_nodes"))
    internal = (
        e.filter(F.col("ls") == F.col("ld"))
        .groupBy(F.col("ls").alias("label"))
        .agg(F.count(F.lit(1)).alias("n_internal"))
    )
    cut = (
        e.filter(F.col("ls") != F.col("ld"))
        .select(F.explode(F.array("ls", "ld")).alias("label"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_cut"))
    )
    return (
        nn.join(internal, "label", "left")
        .join(cut, "label", "left")
        .select(
            "label",
            "n_nodes",
            F.coalesce("n_internal", F.lit(0)).alias("n_internal"),
            F.coalesce("n_cut", F.lit(0)).alias("n_cut"),
        )
    )


def bfs_distances(
    edges: DataFrame,
    landmarks: list,
    rounds: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Multi-source landmark BFS: exact hop distance from each of k landmark
    nodes to every node within ``rounds`` hops — the landmark-distance
    feature scheme (Potamias et al. 2009, "Fast shortest path distance
    estimation in large networks"): per-node distance vectors to a small
    landmark set stand in for pairwise graph distance at scale. Complements
    hyperball (which answers |ball| only, not WHICH nodes / how far).

    Frontier-based: in unweighted BFS a (node, landmark) pair's first
    discovery is its final distance, so each round joins edges against
    ONLY the rows discovered last round, anti-joins already-known pairs,
    and appends. State is <= k·V rows total and the per-round join input
    shrinks as frontiers saturate — the whole-table min-merge alternative
    re-derives every prior round's contributions each round. One edge
    join (AQE skew split covers hubs) + one anti-join per round;
    per-round eager localCheckpoint cuts lineage like every other
    iterative loop in this module. Distances follow edge direction; pass
    a symmetrized edge list for undirected distance.

    Returns (node, landmark, dist), one row per pair reached within
    ``rounds`` hops (unreached pairs are absent, not NULL). A landmark
    always reports itself at distance 0, even if it has no edges.
    """
    spark = edges.sparkSession
    e = edges.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("_d"))
    dist = spark.createDataFrame(
        [(int(l), int(l), 0) for l in landmarks],
        "node long, landmark long, dist int",
    ).localCheckpoint(eager=True)
    frontier = dist
    for t in range(1, rounds + 1):
        cand = (
            e.join(frontier, e["_s"] == frontier["node"])
            .select(
                F.col("_d").alias("node"),
                "landmark",
                F.lit(t).cast("int").alias("dist"),
            )
            .dropDuplicates(["node", "landmark"])
        )
        frontier = cand.join(
            dist.select("node", "landmark"), ["node", "landmark"], "left_anti"
        ).localCheckpoint(eager=True)
        dist = dist.unionByName(frontier).localCheckpoint(eager=True)
    return dist


def personalized_pagerank(
    edges: DataFrame,
    seeds: list,
    damping: float = 0.85,
    iterations: int = 3,
) -> DataFrame:
    """Personalized PageRank: random walk with restart to a seed set —
    r_{t+1}(v) = (1-d)·p(v) + d·Σ_{u→v} r_t(u)/outdeg(u), with p uniform
    over ``seeds`` and r_0 = p. THE entity-relevance primitive around
    known-good seed entities in a KG (local community / related-entity
    scoring; the global `pagerank` answers importance, PPR answers
    importance *to these seeds*). Same iterative shape as pagerank: one
    hash join + one aggregate per round, per-round eager localCheckpoint;
    unlike global PR the rank table STAYS SPARSE — only nodes within t
    hops of a seed ever hold mass, so the per-round join input is the
    seed neighborhood, not V (the reason PPR is the scalable choice for
    per-entity relevance at 100 TB: k seed sets are k cheap sparse loops,
    not k full-graph sweeps).

    Sink mass is dropped (matches pagerank's default). Returns
    (node, rank) for the touched set only: seeds plus every node that has
    ever received contribution rows (a touched node's rank can be exactly
    0.0 when all its contributors had zero rank that round).
    """
    spark = edges.sparkSession
    p0 = 1.0 / len(seeds)
    outdeg = (
        edges.groupBy("src").agg(F.count("*").alias("d")).localCheckpoint(eager=True)
    )
    seed_df = spark.createDataFrame(
        [(s, p0) for s in seeds], ["node", "p"]  # node type inferred from seeds
    ).localCheckpoint(eager=True)
    ranks = seed_df.select("node", F.col("p").alias("rank"))
    for _ in range(iterations):
        contribs = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("node"), (F.col("rank") / F.col("d")).alias("c")
            )
            .groupBy("node")
            .agg(F.sum("c").alias("m"))
        )
        ranks = (
            contribs.join(seed_df, "node", "full")
            .select(
                "node",
                (
                    F.lit(1.0 - damping) * F.coalesce("p", F.lit(0.0))
                    + F.lit(damping) * F.coalesce("m", F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def luby_mis(
    edges: DataFrame,
    rounds: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Deterministic Luby maximal independent set (Luby 1986, the
    parallel symmetry-breaking primitive — conflict-free task batches,
    landmark spreading, distributed greedy coloring's first color
    class). Priorities are engine-portable: the zero-padded string
    (md5_32(node), node), so ties are impossible and a DuckDB oracle
    replays every round bit-for-bit. Per round, an undecided node joins
    the MIS iff its priority is strictly smallest among its UNDECIDED
    neighbors (no undecided neighbor -> joins); its neighbors are then
    excluded. This is the lexicographically-first MIS in priority order
    — same output at any parallelism.

    Scale shape per round: one edge join carrying undecided priorities
    (AQE skew split covers hubs) + one min agg with map-side partials +
    two anti-joins; the undecided set SHRINKS geometrically (Luby's
    expected-constant-fraction argument), so later rounds are nearly
    free. Per-round eager localCheckpoint, as everywhere in this module.
    Self-loops are dropped (a self-adjacent node can never join).

    Pass a symmetrized edge list; node ids must be non-negative (the
    zero-padded priority string assumes it). Returns (node, state,
    decided_round) with state in ('in', 'out', 'undecided');
    decided_round = 0 for nodes still undecided after ``rounds``.
    """
    from .sketches import _hash32

    e = edges.filter(F.col(src_col) != F.col(dst_col)).select(
        F.col(src_col).alias("_s"), F.col(dst_col).alias("_d")
    )
    nodes = (
        e.select(F.col("_s").alias("node"))
        .unionByName(e.select(F.col("_d").alias("node")))
        .dropDuplicates()
    )
    u = nodes.select(
        "node",
        F.format_string(
            "%010d%019d", _hash32(F.col("node")), F.col("node")
        ).alias("p"),
    ).localCheckpoint(eager=True)
    decided = None
    for t in range(1, rounds + 1):
        nbrmin = (
            e.join(u, e["_s"] == u["node"])
            .select(F.col("_d").alias("node"), F.col("p").alias("np"))
            .groupBy("node")
            .agg(F.min("np").alias("np"))
        )
        winners = (
            u.join(nbrmin, "node", "left")
            .filter(F.col("np").isNull() | (F.col("p") < F.col("np")))
            .select("node")
            .localCheckpoint(eager=True)
        )
        excl = (
            e.join(winners, e["_s"] == winners["node"])
            .select(F.col("_d").alias("node"))
            .dropDuplicates()
            .join(u.select("node"), "node", "left_semi")
            .join(winners, "node", "left_anti")
        )
        batch = winners.select(
            "node", F.lit("in").alias("state"), F.lit(t).alias("decided_round")
        ).unionByName(
            excl.select(
                "node", F.lit("out").alias("state"), F.lit(t).alias("decided_round")
            )
        )
        decided = (
            batch if decided is None else decided.unionByName(batch)
        ).localCheckpoint(eager=True)
        u = u.join(decided.select("node"), "node", "left_anti").localCheckpoint(
            eager=True
        )
    rest = u.select(
        "node", F.lit("undecided").alias("state"), F.lit(0).alias("decided_round")
    )
    return decided.unionByName(rest) if decided is not None else rest


def clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node local clustering coefficient: lcc(v) = 2·tri(v) /
    (deg(v)·(deg(v)−1)) over the undirected simple graph — the standard
    per-node cohesion feature (Watts & Strogatz 1998) for KG entity
    typing and spam/hub detection. Same degree-ordered orientation as
    triangle_count (each triangle is enumerated exactly ONCE at its
    lowest-(degree,id) corner, O(m^1.5) wedges, hub-safe), then each
    closed triangle credits all three corners via one explode — per-node
    counts cost one extra groupBy over the global count's agg.

    Emitted as an exact integer quotient (2·tri·1e6) DIV (deg·(deg−1))
    — no float anywhere, so cross-engine replay is exact (CLAUDE.md
    round-3 rule). Returns (node, degree, n_triangles, lcc_x1e6) for
    every node of the simple graph; degree-1 and isolated-in-simple-graph
    nodes get lcc 0.
    """
    u, v = F.col(src), F.col(dst)
    e = (
        edges.filter(u != v)
        .select(F.least(u, v).alias("a"), F.greatest(u, v).alias("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    ).localCheckpoint(eager=True)
    ed = e.join(
        deg.withColumnRenamed("n", "a").withColumnRenamed("d", "da"), "a"
    ).join(deg.withColumnRenamed("n", "b").withColumnRenamed("d", "db"), "b")
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = ed.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("da")).otherwise(F.col("db")).alias("du"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lower_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    )
    w1 = oriented.select("u", F.col("v").alias("x"), F.col("dv").alias("dx"))
    w2 = oriented.select("u", F.col("v").alias("y"), F.col("dv").alias("dy"))
    wedges = w1.join(w2, "u").filter(
        (F.col("dx") < F.col("dy"))
        | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    )
    closing = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tri_corners = (
        wedges.join(closing, ["x", "y"], "left_semi")
        .select(F.explode(F.array("u", "x", "y")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    return (
        deg.join(tri_corners, "n", "left")
        .select(
            F.col("n").alias("node"),
            F.col("d").cast("long").alias("degree"),
            F.coalesce("t", F.lit(0)).cast("long").alias("n_triangles"),
            F.when(
                F.col("d") >= 2,
                F.expr("(2 * coalesce(t, 0) * 1000000) DIV (d * (d - 1))"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("lcc_x1e6"),
        )
    )


def _edge_support(e: DataFrame) -> DataFrame:
    """Triangles-per-edge over canonical (a<b) simple edges — the same
    degree-ordered orientation as triangle_count (each triangle found once
    at its lowest corner), then each triangle credits its THREE canonical
    edges via one explode. Returns (a, b, support), support 0 included."""
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ed = e.join(
        deg.withColumnRenamed("n", "a").withColumnRenamed("d", "da"), "a"
    ).join(deg.withColumnRenamed("n", "b").withColumnRenamed("d", "db"), "b")
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = ed.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lower_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    )
    w1 = oriented.select("u", F.col("v").alias("x"), F.col("dv").alias("dx"))
    w2 = oriented.select("u", F.col("v").alias("y"), F.col("dv").alias("dy"))
    wedges = w1.join(w2, "u").filter(
        (F.col("dx") < F.col("dy"))
        | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    )
    closing = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tri = wedges.join(closing, ["x", "y"], "left_semi")
    pair = lambda p, q: F.struct(  # noqa: E731
        F.least(p, q).alias("a"), F.greatest(p, q).alias("b")
    )
    credit = (
        tri.select(
            F.explode(
                F.array(
                    pair(F.col("u"), F.col("x")),
                    pair(F.col("u"), F.col("y")),
                    pair(F.col("x"), F.col("y")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    return e.join(credit, ["a", "b"], "left").select(
        "a", "b", F.coalesce("support", F.lit(0)).cast("long").alias("support")
    )


def k_truss(
    edges: DataFrame,
    k: int = 3,
    max_rounds: int = 10,
    exact_rounds: bool = False,
) -> DataFrame:
    """k-truss decomposition by iterative edge peeling (Cohen 2008):
    repeatedly drop every edge in fewer than k−2 triangles until the
    fixpoint — the EDGE-level cohesion filter (k-core trims weak nodes,
    k-truss trims weak TIES: relation edges in an entity graph that no
    triangle corroborates). Fifth iterative family in this module.

    Per round: one full triangle-support pass (the degree-ordered
    O(m^1.5) orientation — the standard BSP k-truss formulation; an
    incremental support-maintenance variant only changes constants) +
    one filter, per-round eager localCheckpoint; convergence is an
    edge-count equality check (one scalar per round, the k-core/CC
    convention). `exact_rounds=True` runs exactly max_rounds peels so a
    round-unrolled oracle replays bit-for-bit.

    Input is symmetrized/dedup'ed to canonical a<b pairs; self-loops
    dropped. Returns the surviving edges as (a, b, support) with support
    recomputed on the final edge set (>= k−2 everywhere at fixpoint).
    """
    u, v = F.col("src"), F.col("dst")
    cur = (
        edges.filter(u != v)
        .select(F.least(u, v).alias("a"), F.greatest(u, v).alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        sup = _edge_support(cur)
        nxt = (
            sup.filter(F.col("support") >= k - 2)
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        if not exact_rounds and nxt.count() == cur.count():
            cur = nxt
            break
        cur = nxt
    return _edge_support(cur)


def ssl_label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 2,
) -> DataFrame:
    """Semi-supervised label propagation (Zhu & Ghahramani 2002) over
    undirected (src, dst) edges: seed nodes carry fixed labels, unlabeled
    nodes adopt their neighbors' most frequent CURRENT label each
    synchronous round. The defining difference from label_propagation
    (community detection, labels start as node ids and everyone moves):
    here SEEDS ARE CLAMPED — they vote but never change — so label mass
    flows outward from the labeled set, the transductive classification
    read over a built KG ("propagate entity types along edges").

    Deterministic: votes counted with edge multiplicity; per node the
    winner is min over (-count, label) — highest count, then the
    lexicographically smallest label. Unlabeled nodes with no labeled
    neighbor stay NULL that round. Fixed iteration count; per round one
    node-keyed join + one combinable count + one struct arg-min, with
    eager localCheckpoint lineage cuts — the same scale shape as the CC /
    PageRank / LPA rounds (AQE handles hub skew; no driver state).

    seeds: (node, label) — label must be non-null.
    Returns (node, label nullable) for every node appearing in edges or
    seeds.
    """
    sym = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    sym = sym.localCheckpoint(eager=True)
    nodes = (
        sym.select(F.col("src").alias("node"))
        .unionByName(seeds.select("node"))
        .dropDuplicates()
    )
    seed_l = seeds.select("node", F.col("label").alias("seed_label"))
    labels = nodes.join(seed_l, "node", "left").select(
        "node", F.col("seed_label").alias("label")
    )
    for _ in range(iterations):
        votes = (
            sym.join(
                labels.filter(F.col("label").isNotNull()),
                sym["src"] == labels["node"],
            )
            .select(F.col("dst").alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        best = (
            votes.groupBy("node")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"), F.col("label"))).alias("b"))
            .select("node", F.col("b.label").alias("vote_label"))
        )
        prev = labels.select("node", F.col("label").alias("prev_label"))
        labels = (
            nodes.join(seed_l, "node", "left")
            .join(best, "node", "left")
            .join(prev, "node", "left")
            .select(
                "node",
                # seeds clamp; fresh votes override; else keep last round's
                F.coalesce("seed_label", "vote_label", "prev_label").alias(
                    "label"
                ),
            )
            .localCheckpoint(eager=True)
        )
    return labels


def strongly_connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_outer: int = 25,
    precontract: bool = True,
) -> DataFrame:
    """Strongly connected components of a directed graph: (node, scc) with
    scc = the minimum member id of the node's SCC — the canonical label a
    mutual-reachability oracle recomputes independently. The reference has
    only undirected alias canonicalization (src/get_equivalent_url.py:13-35
    -> our linking/canonicalize.py CC); SCC is the DIRECTED analog a KG
    pipeline needs for cycle detection (subClassOf loops poison the
    transitive-closure fixpoint) and for condensing a predicate/tool
    transition graph into its DAG of behavioral cores.

    Trim + forward-coloring + backward-marking (the FW-BW-Trim family of
    Hong/Slota et al., the standard bulk-synchronous SCC):

    1. TRIM to fixpoint: a node with no in-edge or no out-edge inside the
       remaining graph is its own SCC — removed immediately. This is what
       makes DAG-heavy graphs cheap: a pure DAG trims to nothing without
       a single coloring round.
    2. COLOR forward to fixpoint: color(v) = min id that reaches v
       (iterated min over in-neighbors, starting at v). Roots are nodes
       with color(v) == v.
    3. MARK backward from the roots, restricted to equal color: exactly
       the nodes mutually reachable with their root — one whole SCC per
       root, labeled by the root, which IS the min member (the min id
       reaching the root mutually reaches it).
    4. Remove marked nodes and repeat on the remainder.

    Every step is an equi-join + aggregate on the node key (AQE covers hub
    skew); per-round eager localCheckpoint cuts lineage exactly like the
    CC loop in linking/canonicalize.py. Convergence actions are per-round
    counts on batch-sized deltas. Each outer round removes at least every
    current root, so the loop terminates in <= |remaining nodes| rounds;
    past max_outer it warns once (a long condensation chain at web scale
    deserves an operator's eye) and keeps peeling to completion instead
    of aborting.

    ``precontract=True`` (default) collapses MUTUAL 1-CYCLES first — the
    web-scale lever: every edge (u, v) whose reverse (v, u) also exists
    certifies u, v mutually reachable, and paths of such edges compose,
    so each connected component of the mutual-edge subgraph sits inside
    one SCC. Those components are contracted with the same two-level CC
    (per-partition union-find + star rounds) canonicalize.py uses for
    alias graphs, the FW-BW-Trim loop runs on the condensation, and
    labels expand back through the contraction map. Chains of 2-cycles —
    the pathological one-SCC-peeled-per-round input — condense to a pure
    DAG that TRIM retires without a single coloring round. Labels are
    unchanged: each contracted rep is the min of its group, so the min
    over reps in an SCC IS the min over its original members.

    Self-loops are irrelevant to SCC membership and dropped on entry.
    Returns one row per node that appears in any edge.
    """
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    orig_nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    contraction = None  # (node, rep) for nodes swallowed by a mutual group
    if precontract:
        from ..linking.canonicalize import connected_components

        rev = e.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
        mutual = (
            e.join(rev, ["src", "dst"], "left_semi")
            .filter(F.col("src") < F.col("dst"))
            .localCheckpoint(eager=True)
        )
        if not mutual.isEmpty():
            contraction = (
                connected_components(mutual, precontract=True)
                .select("node", F.col("component").alias("rep"))
                .localCheckpoint(eager=True)
            )
            m_src = contraction.select(
                F.col("node").alias("src"), F.col("rep").alias("__rs")
            )
            m_dst = contraction.select(
                F.col("node").alias("dst"), F.col("rep").alias("__rd")
            )
            e = (
                e.join(m_src, "src", "left")
                .join(m_dst, "dst", "left")
                .select(
                    F.coalesce("__rs", F.col("src")).alias("src"),
                    F.coalesce("__rd", F.col("dst")).alias("dst"),
                )
                .filter(F.col("src") != F.col("dst"))
                .dropDuplicates()
                .localCheckpoint(eager=True)
            )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    done_parts = []
    outer = 0
    while True:
        outer += 1
        if outer > max_outer:
            import warnings

            warnings.warn(
                f"SCC condensation deeper than max_outer={max_outer} "
                "rounds; continuing to peel (long condensation chain — "
                "consider inspecting the graph)",
                RuntimeWarning,
                stacklevel=2,
            )
            max_outer = 1 << 62  # warn once, then run to completion
        # --- 1. trim to fixpoint -------------------------------------------
        while True:
            has_in = e.select(F.col("dst").alias("node")).dropDuplicates()
            has_out = e.select(F.col("src").alias("node")).dropDuplicates()
            keep = has_in.join(has_out, "node")  # in-AND-out nodes survive
            trimmed = nodes.join(keep, "node", "left_anti").localCheckpoint(
                eager=True
            )
            if trimmed.isEmpty():
                break
            done_parts.append(trimmed.select("node", F.col("node").alias("scc")))
            nodes = nodes.join(trimmed, "node", "left_anti").localCheckpoint(
                eager=True
            )
            e = (
                e.join(nodes, e["src"] == nodes["node"], "left_semi")
                .join(nodes, e["dst"] == nodes["node"], "left_semi")
                .localCheckpoint(eager=True)
            )
        if nodes.isEmpty():
            break
        # --- 2. color: forward min-id propagation to fixpoint --------------
        color = nodes.select("node", F.col("node").alias("color"))
        while True:
            incoming = (
                e.join(color, e["src"] == color["node"])
                .select(F.col("dst").alias("node"), F.col("color").alias("c_in"))
                .groupBy("node")
                .agg(F.min("c_in").alias("c_in"))
            )
            new_color = (
                color.join(incoming, "node", "left")
                .select(
                    "node",
                    F.least(F.col("color"), F.coalesce("c_in", F.col("color"))).alias(
                        "color"
                    ),
                )
                .localCheckpoint(eager=True)
            )
            changed = (
                new_color.join(
                    color.select("node", F.col("color").alias("old")), "node"
                )
                .filter(F.col("color") != F.col("old"))
                .isEmpty()
            )
            color = new_color
            if changed:
                break
        # --- 3. mark: backward closure inside one color --------------------
        marked = color.filter(F.col("node") == F.col("color")).select(
            "node", F.col("color").alias("scc")
        ).localCheckpoint(eager=True)
        frontier = marked
        while True:
            cand = (
                e.join(frontier, e["dst"] == frontier["node"])
                .select(F.col("src").alias("node"), "scc")
                .dropDuplicates()
            )
            fresh = (
                cand.join(color, "node")
                .filter(F.col("color") == F.col("scc"))
                .select("node", "scc")
                .join(marked.select("node"), "node", "left_anti")
                .localCheckpoint(eager=True)
            )
            if fresh.isEmpty():
                break
            marked = marked.unionByName(fresh).localCheckpoint(eager=True)
            frontier = fresh
        done_parts.append(marked)
        # --- 4. peel the finished SCCs and repeat ---------------------------
        nodes = nodes.join(marked, "node", "left_anti").localCheckpoint(eager=True)
        if nodes.isEmpty():
            break
        e = (
            e.join(nodes, e["src"] == nodes["node"], "left_semi")
            .join(nodes, e["dst"] == nodes["node"], "left_semi")
            .localCheckpoint(eager=True)
        )
    if done_parts:
        out = done_parts[0]
        for part in done_parts[1:]:
            out = out.unionByName(part)
    else:  # no edges survive self-loop filtering / contraction
        out = nodes.select("node", F.col("node").alias("scc"))
    if contraction is None:
        return out
    # expand condensation labels back to original nodes: a node's SCC is
    # its rep's SCC; a rep with no surviving edge is its own SCC label
    rep_of = orig_nodes.join(contraction, "node", "left").select(
        "node", F.coalesce("rep", F.col("node")).alias("rep")
    )
    return rep_of.join(
        out.select(F.col("node").alias("rep"), "scc"), "rep", "left"
    ).select("node", F.coalesce("scc", F.col("rep")).alias("scc"))


def bounded_sssp(
    edges: DataFrame,
    source,
    rounds: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
) -> DataFrame:
    """Bounded-hop weighted shortest path: min total edge weight from
    ``source`` to every node reachable over paths of <= ``rounds`` edges —
    exactly ``rounds`` synchronous Bellman-Ford relaxations, the
    every-distributed-graph-engine SSSP (bfs_distances covers the
    unweighted case; this is its weighted sibling, and like pagerank_2iter
    the FIXED round count is the cross-engine contract: an unrolled
    oracle replays the identical K rounds, no convergence test to
    reconcile).

    Frontier-relaxation: round t joins edges against only the rows whose
    distance improved in round t-1, then min-merges into the running
    table. After round t the table holds exactly min cost over <= t-edge
    paths (an improved predecessor re-offers its final value the round
    after it last improved — the usual frontier Bellman-Ford invariant),
    so the result is bit-identical to whole-table relaxation while the
    per-round join input shrinks to the active frontier. Weights are the
    caller's integers (exact-integer costs avoid every cross-engine float
    trap); negative weights are legal for the bounded semantics (no
    negative-cycle divergence inside a fixed round count).

    Returns (node, dist): the source at 0 plus every node reached within
    ``rounds`` hops.
    """
    spark = edges.sparkSession
    e = edges.select(
        F.col(src_col).alias("_s"),
        F.col(dst_col).alias("_d"),
        F.col(weight_col).cast("long").alias("_w"),
    )
    dist = spark.createDataFrame([(source, 0)], ["node", "dist"]).select(
        "node", F.col("dist").cast("long").alias("dist")
    ).localCheckpoint(eager=True)
    frontier = dist
    for _ in range(rounds):
        offers = (
            e.join(frontier, e["_s"] == frontier["node"])
            .select(
                F.col("_d").alias("node"), (F.col("dist") + F.col("_w")).alias("d")
            )
            .groupBy("node")
            .agg(F.min("d").alias("d"))
        )
        merged = (
            dist.join(offers, "node", "full")
            .select(
                "node",
                F.least(
                    F.coalesce("dist", F.col("d")), F.coalesce("d", F.col("dist"))
                ).alias("dist"),
                (F.col("dist").isNull() | (F.col("d") < F.col("dist"))).alias(
                    "_improved"
                ),
            )
            .localCheckpoint(eager=True)
        )
        frontier = merged.filter(F.col("_improved")).select("node", "dist")
        dist = merged.select("node", "dist")
        if frontier.isEmpty():
            break
    return dist


def hits(edges: DataFrame, iterations: int = 2) -> DataFrame:
    """Fixed-iteration UNNORMALIZED HITS (Kleinberg 1999, JACM 46(5)):
    per round, auth(v) := Σ_{(u,v)} hub(u) over in-edges, then
    hub(u) := Σ_{(u,v)} auth_new(v) over out-edges (the standard
    power iteration on AᵀA / AAᵀ). Starting from all-ones, every score
    stays an exact BIGINT — normalization is a positive scalar divide
    that never changes the ranking, so it is deliberately omitted: the
    cross-engine oracle replays the rounds in pure integer arithmetic
    with zero float discipline (the integer-quotient rule from the
    working notes), and a production caller can rescale afterwards.
    Directed complement of pagerank for bow-tie-shaped KGs: hubs =
    nodes pointing at many good authorities (e.g. conversations citing
    many canonical entities), authorities = nodes cited by many good
    hubs. Multi-edges count with multiplicity (no dedup inside).

    Scale shape: per round two edge-keyed hash joins + two map-side
    combinable sums (the pagerank family); edges and nodes are
    checkpointed once, the per-round auth table feeds both the hub
    update and the next round so it is checkpointed per round —
    identical lineage discipline to `pagerank`.

    Returns (node, hub BIGINT, auth BIGINT).
    """
    edges = edges.select("src", "dst").localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    hub = nodes.withColumn("hub", F.lit(1).cast("long"))
    auth = nodes.withColumn("auth", F.lit(1).cast("long"))
    for _ in range(iterations):
        a = (
            edges.join(
                hub.select(F.col("node").alias("src"), "hub"), "src"
            )
            .groupBy("dst")
            .agg(F.sum("hub").alias("s"))
        )
        auth = (
            nodes.join(a, nodes["node"] == a["dst"], "left")
            .select("node", F.coalesce("s", F.lit(0)).cast("long").alias("auth"))
            .localCheckpoint(eager=True)
        )
        h = (
            edges.join(
                auth.select(F.col("node").alias("dst"), "auth"), "dst"
            )
            .groupBy("src")
            .agg(F.sum("auth").alias("s"))
        )
        hub = (
            nodes.join(h, nodes["node"] == h["src"], "left")
            .select("node", F.coalesce("s", F.lit(0)).cast("long").alias("hub"))
            .localCheckpoint(eager=True)
        )
    return hub.join(auth, "node").select("node", "hub", "auth")


def modularity_profile(
    edges: DataFrame,
    communities: DataFrame,
    node_col: str = "node",
    comm_col: str = "community",
    precision: int = 1000,
) -> DataFrame:
    """Newman modularity contribution per community — the evaluation
    readout for any partition this engine produces (label_propagation
    communities, CC clusters, an attribute partition): Q_c = e_c/m −
    (d_c/2m)², where e_c is intra-community edges, d_c the community's
    degree sum, m the edge count. Σ_c Q_c is the partition's modularity.

    Exact-integer discipline with n-INDEPENDENT bounds: the degree share
    d_c/2m is first quantized to s = d_c·precision DIV 2m (≤ precision,
    so s² sits on the ×1e6 scale when precision=1000), then
    q_x1e6 = e_c·10^6 DIV m − s² — every intermediate fits BIGINT at any
    graph size (e_c ≤ m ≤ 9·10^12 before e_c·10^6 overflows), and DuckDB
    replays the identical quotients. Quantization error ≤ ~2·10^3 on the
    ×1e6 scale — a readout tolerance, traded for never forming 4m²
    (which overflows past m ≈ 1.5·10^6).

    Contract: ``edges`` is an UNDIRECTED edge list, one row per edge,
    self-loops excluded; ``communities`` maps every endpoint to exactly
    one community. Scale shape: degree agg (map-side combined) + two
    hash joins of edges against the community map (Spark broadcasts it
    when small; at |V|-scale they shuffle on node id — the standard
    partition-eval shape) + community-keyed aggs.

    Returns (community, n_nodes, degree_sum, intra_edges, q_x1e6).
    """
    comm = communities.select(
        F.col(node_col).alias("__n"), F.col(comm_col).alias("community")
    )
    m_t = edges.agg(F.count(F.lit(1)).alias("m"))
    deg = (
        edges.select(F.col("src").alias("__n"))
        .unionAll(edges.select(F.col("dst").alias("__n")))
        .groupBy("__n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    d_c = (
        deg.join(comm, "__n")
        .groupBy("community")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("deg").alias("degree_sum"),
        )
    )
    cs = comm.select(F.col("__n").alias("src"), F.col("community").alias("__cs"))
    cd = comm.select(F.col("__n").alias("dst"), F.col("community").alias("__cd"))
    intra = (
        edges.join(cs, "src")
        .join(cd, "dst")
        .filter(F.col("__cs") == F.col("__cd"))
        .groupBy(F.col("__cs").alias("community"))
        .agg(F.count(F.lit(1)).alias("intra_edges"))
    )
    p = int(precision)
    return (
        d_c.join(intra, "community", "left")
        .fillna(0, subset=["intra_edges"])
        .crossJoin(F.broadcast(m_t))
        .select(
            "community",
            "n_nodes",
            "degree_sum",
            F.col("intra_edges").cast("long").alias("intra_edges"),
            F.expr(
                f"CAST(intra_edges * 1000000 DIV m"
                f" - (degree_sum * {p} DIV (2 * m))"
                f" * (degree_sum * {p} DIV (2 * m))"
                f" * 1000000 DIV ({p} * {p}) AS BIGINT)"
            ).alias("q_x1e6"),
        )
    )


def harmonic_closeness(
    edges: DataFrame,
    sources: DataFrame | None = None,
    rounds: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Truncated harmonic closeness centrality (Boldi & Vigna 2014, "Axioms
    for centrality"): c(v) = Σ_{u reached within `rounds` hops, u≠v} 1/d(v,u),
    the centrality readout that stays meaningful on DISCONNECTED graphs
    (classic closeness 1/Σd degenerates there) — ranking hub entities /
    pivotal event nodes in the constructed KG.

    Exact integers: each reciprocal is 1e6 DIV dist (dist ∈ 1..rounds), so
    harmonic_x1e6 is a bounded sum of exact terms — no float discipline —
    and a recursive-CTE oracle replays it bit-for-bit.

    `sources` bounds the work: closeness is inherently all-sources
    (O(V·E) exact), so at scale callers pass a sampled/priority source set
    (the landmark approximation, same contract as bfs_distances); None
    means every edge endpoint (fine on dimension-scale graphs).

    Plan shape: the frontier loop is bfs_distances' (first discovery = final
    hop distance in unweighted BFS): per round ONE edge join against only
    the last frontier + ONE anti-join against known pairs, eager
    localCheckpoint lineage cuts; state ≤ |sources|·V rows. The readout is
    one (landmark)-keyed combinable agg. Distances follow edge direction;
    pass a symmetrized edge list for undirected centrality.

    Returns (node, n_reached, harmonic_x1e6), one row per source, sources
    reaching nothing included with zeros.
    """
    e = edges.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("_d"))
    if sources is None:
        sources = (
            e.select(F.col("_s").alias("node"))
            .unionAll(e.select(F.col("_d").alias("node")))
            .distinct()
        )
    src = sources.select(F.col(sources.columns[0]).alias("node")).distinct()
    dist = src.select(
        "node", F.col("node").alias("landmark"), F.lit(0).cast("int").alias("dist")
    ).localCheckpoint(eager=True)
    frontier = dist
    for t in range(1, rounds + 1):
        cand = (
            e.join(frontier, e["_s"] == frontier["node"])
            .select(
                F.col("_d").alias("node"),
                "landmark",
                F.lit(t).cast("int").alias("dist"),
            )
            .dropDuplicates(["node", "landmark"])
        )
        frontier = cand.join(
            dist.select("node", "landmark"), ["node", "landmark"], "left_anti"
        ).localCheckpoint(eager=True)
        dist = dist.unionByName(frontier).localCheckpoint(eager=True)
    reached = dist.filter(F.col("dist") > 0)
    return (
        src.join(
            reached.groupBy("landmark").agg(
                F.count(F.lit(1)).alias("n_reached"),
                F.sum(F.expr("1000000 DIV dist")).alias("harmonic_x1e6"),
            ),
            src["node"] == F.col("landmark"),
            "left",
        )
        .select(
            "node",
            F.coalesce(F.col("n_reached"), F.lit(0)).cast("long").alias("n_reached"),
            F.coalesce(F.col("harmonic_x1e6"), F.lit(0))
            .cast("long")
            .alias("harmonic_x1e6"),
        )
    )


def reciprocity_profile(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Directed-graph reciprocity readout: the fraction of non-loop edges
    whose reverse edge also exists — the first diagnostic on any
    constructed relation ("is mention-of symmetric in practice?",
    "is the trade graph mutual?") and the standard sanity check before
    symmetrizing a digraph for CC/community passes.

    Exact integers: reciprocity_x1e6 = n_reciprocal·1e6 DIV n_edges over
    deduplicated directed edges; self-loops are counted separately (they
    are trivially "reciprocal" and would inflate the ratio).

    Plan shape: one distinct on the edge list, ONE self-equi-join on the
    swapped key (hash join, no theta), three combinable aggs folded into
    one pass; output is a single row.
    """
    e = (
        edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nonloop = e.filter(F.col("s") != F.col("d"))
    rev = nonloop.select(F.col("d").alias("s"), F.col("s").alias("d"))
    recip = nonloop.join(rev, ["s", "d"]).select("s", "d")
    nodes = e.select(F.col("s").alias("n")).unionAll(e.select(F.col("d").alias("n")))
    counts = nonloop.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        recip.agg(F.count(F.lit(1)).alias("n_reciprocal"))
    ).crossJoin(
        e.filter(F.col("s") == F.col("d")).agg(F.count(F.lit(1)).alias("n_self"))
    ).crossJoin(nodes.agg(F.countDistinct("n").alias("n_nodes")))
    return counts.select(
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("n_edges").cast("long").alias("n_edges"),
        F.col("n_reciprocal").cast("long").alias("n_reciprocal"),
        F.col("n_self").cast("long").alias("n_self"),
        F.when(F.col("n_edges") == 0, F.lit(0).cast("long"))
        .otherwise(
            F.expr("n_reciprocal * 1000000 DIV n_edges").cast("long")
        )
        .alias("reciprocity_x1e6"),
    )


def feature_propagation(
    edges: DataFrame,
    feats: DataFrame,
    node_col: str = "node",
    vec_col: str = "vec",
    rounds: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
    assemble: bool = False,
) -> DataFrame:
    """GCN-style feature smoothing over the graph (the aggregation step of
    Kipf & Welling 2017 / the "feature propagation" missing-feature filler
    of Rossi 2021): for ``rounds`` synchronous rounds, each node's vector
    becomes the SELF-INCLUSIVE mean of itself and its in-neighbors,
    element-wise — the cheapest graph×vector primitive that turns entity
    embeddings + KG edges into neighborhood-aware features without a
    training loop.

    Exact integers: vectors are pre-quantized longs (callers quantize via
    floor(x·K + 0.5), the repo-wide convention); each round computes
    (self + Σ neighbors) DIV (1 + n_neighbors) per dimension — truncated
    integer division both engines replay bit-for-bit. Nodes with no
    in-edges keep their vector unchanged.

    Scale shape: features live EXPLODED as (node, dim, val) rows across
    rounds — one posexplode up front, one (node, dim) re-assembly at the
    end if ``assemble`` — so each round is ONE edge join (fans src values
    to dst, AQE-skew-split on hubs) + ONE (node, dim) combinable agg +
    ONE left join back, with per-round eager localCheckpoint lineage cuts
    like every iterative loop in this module. Cost rides |E|·d per round:
    keep d small (PCA/sliced embeddings) — the honest cost of the
    operation, stated rather than hidden.

    Returns (node, dim, val) exploded rows, or (node, vec) when
    ``assemble`` (array ordered by dim via sorted-struct collect).
    """
    d = feats.select(
        F.col(node_col).alias("node"),
        F.posexplode(F.col(vec_col)).alias("dim", "val"),
    ).localCheckpoint(eager=True)
    e = edges.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("_d"))
    for _ in range(rounds):
        nbr = (
            e.join(d, e["_s"] == d["node"])
            .groupBy(F.col("_d").alias("node"), "dim")
            .agg(F.sum("val").alias("__s"), F.count(F.lit(1)).alias("__n"))
        )
        d = (
            d.join(nbr, ["node", "dim"], "left")
            .select(
                "node",
                "dim",
                F.when(F.col("__n").isNull(), F.col("val"))
                .otherwise(
                    F.expr("(val + __s) DIV (1 + __n)").cast("long")
                )
                .alias("val"),
            )
            .localCheckpoint(eager=True)
        )
    if not assemble:
        return d
    return d.groupBy("node").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("dim"), F.col("val")))
            ),
            lambda s: s["val"],
        ).alias("vec")
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree-assortativity readout (Newman 2002): the Pearson correlation
    between the endpoint degrees of every (directed) edge of the
    symmetrized graph — positive when hubs link to hubs (social cores),
    negative when hubs link to leaves (star/bipartite shapes). The
    KG-profile number that predicts which join strategy a traversal needs:
    strongly negative assortativity means frontier joins repeatedly hit
    hub rows and AQE skew-splitting is load-bearing.

    Exact cross-engine integer contract (CLAUDE.md staged-quotient
    toolkit): per endpoint the deviation from the mean edge-endpoint
    degree is the staged relative quotient
        d = (x*m - S) DIV S * 1000 + (x*m - S) % S * 1000 DIV S
    winsorized to ±10000 (relative deviation ±10x in 0.001 steps; both
    engines truncate DIV identically for either sign, and the oracle
    replays the SAME winsorization, so saturating hubs stays bit-equal).
    Signed r² is then sign(num)·(|num|·1000 DIV Sxx)·(|num|·1000 DIV Syy)
    — Cauchy-Schwarz-bounded ≤ 1e6. BIGINT headroom: |num| ≤ m·1e8, so
    |num|·1000 stays in range up to m ≈ 9e7 directed edges; beyond that
    lift the three sums to DECIMAL(38,0), shape unchanged.

    Shape: one degree aggregate, two broadcast-sized scalar totals (m, S)
    collected as a single row, then a map-only pass over edges with the
    two degree joins and one global aggregate — no per-pair state.

    Returns one row (m_edges, s_deg, num, sxx, syy, r2_x1e6) with num and
    r2_x1e6 signed.
    """
    und = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    sym = (
        und.unionByName(
            und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .dropDuplicates()
        .localCheckpoint(eager=True)  # deg + edge pass + totals share it
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ed = sym.join(
        deg.select(F.col("src"), F.col("deg").alias("dx")), "src"
    ).join(
        deg.select(F.col("src").alias("dst"), F.col("deg").alias("dy")), "dst"
    )
    tot = ed.agg(
        F.count(F.lit(1)).alias("m"), F.sum("dx").alias("s")
    ).first()
    m, s = int(tot["m"]), int(tot["s"])

    def _dev(col: str):
        staged = (
            F.expr(f"({col} * {m} - {s}) DIV {s}") * F.lit(1000)
            + F.expr(f"(({col} * {m} - {s}) % {s}) * 1000 DIV {s}")
        )
        return F.least(
            F.lit(10000).cast("long"),
            F.greatest(F.lit(-10000).cast("long"), staged.cast("long")),
        )

    rolled = ed.select(
        _dev("dx").alias("ddx"), _dev("dy").alias("ddy")
    ).agg(
        F.sum(F.col("ddx") * F.col("ddy")).alias("num"),
        F.sum(F.col("ddx") * F.col("ddx")).alias("sxx"),
        F.sum(F.col("ddy") * F.col("ddy")).alias("syy"),
    )
    sign = F.when(F.col("num") < 0, F.lit(-1)).otherwise(F.lit(1))
    r2 = F.when(
        (F.col("sxx") == 0) | (F.col("syy") == 0), F.lit(0).cast("long")
    ).otherwise(
        sign
        * F.expr("abs(num) * 1000 DIV sxx")
        * F.expr("abs(num) * 1000 DIV syy")
    )
    return rolled.select(
        F.lit(m).cast("long").alias("m_edges"),
        F.lit(s).cast("long").alias("s_deg"),
        F.col("num").cast("long").alias("num"),
        F.col("sxx").cast("long").alias("sxx"),
        F.col("syy").cast("long").alias("syy"),
        r2.cast("long").alias("r2_x1e6"),
    )


def wl_colors(
    edges: DataFrame,
    labels: DataFrame,
    rounds: int = 2,
) -> DataFrame:
    """Weisfeiler-Leman color refinement (1-WL; Shervashidze 2011 WL
    kernels): iteratively re-label every node with a hash of (its own
    color, a digest of its neighbors' color MULTISET). After R rounds two
    nodes share a color only if their R-hop neighborhood structure agrees
    — the structural-equivalence fingerprint behind graph-isomorphism
    screening, entity-subgraph dedup ("these two KG entities sit in
    identical local shapes"), and GNN expressivity analysis.

    The textbook step sorts each node's neighbor colors and hashes the
    concatenation — a per-node sort of up to deg(v) strings, which a hub
    turns into a memory cliff. Here the multiset digest is ORDER-FREE:
    sum of per-neighbor md5-derived 32-bit integers plus the neighbor
    count (the `partition_checksums` trick, io/catalog.py:441) — one
    map-side-combinable aggregate per round, no collect_list, no sort,
    hub-proof. Collision bound 2^-32 per multiset compare, the standard
    unordered-checksum trade; both engines evaluate the identical md5 /
    hex-prefix arithmetic, so colors replay bit-exact.

    ``labels`` is (node, label) — the round-0 color (node type, entity
    class). Nodes with no edges keep refining on (color, 0, 0).

    Per-round cost: one edge join + one node-keyed agg + one left join,
    colors checkpointed per round (the CC/PageRank iterative-joins
    family). Returns (node, color) after ``rounds`` refinements.
    """
    und = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    sym = (
        und.unionByName(
            und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    colors = labels.select("node", F.col("label").cast("string").alias("color"))
    for _ in range(rounds):
        nbr = sym.join(
            colors.select(F.col("node").alias("dst"), "color"), "dst"
        ).select(F.col("src").alias("node"), "color")
        digest = nbr.groupBy("node").agg(
            F.sum(
                F.conv(F.substring(F.md5("color"), 1, 8), 16, 10).cast("long")
            ).alias("s"),
            F.count(F.lit(1)).alias("d"),
        )
        colors = (
            colors.join(digest, "node", "left")
            .select(
                "node",
                F.md5(
                    F.concat_ws(
                        "#",
                        F.col("color"),
                        F.coalesce(F.col("s"), F.lit(0)).cast("string"),
                        F.coalesce(F.col("d"), F.lit(0)).cast("string"),
                    )
                ).alias("color"),
            )
            .localCheckpoint(eager=True)
        )
    return colors


def densest_subgraph(
    edges: DataFrame,
    rounds: int = 2,
    eps_x10: int = 1,
) -> DataFrame:
    """Densest-subgraph peeling (Charikar 2000 greedy, distributed as in
    Bahmani, Kumar & Vassilvitskii 2012 "Densest subgraph in streaming
    and MapReduce"): each round removes EVERY node whose degree is below
    2(1+eps) times the current average density E/V, shrinking the graph
    toward its densest core in O(log n) rounds — the community-core /
    spam-cluster / bot-ring extractor that k_core's fixed threshold
    cannot parameterize. 2(1+eps)-approximation guarantee.

    All-integer threshold, no floats and NO driver collect: with m the
    DIRECTED edge count (= 2E) and v the node count of the current
    subgraph, "deg < 2(1+eps)·E/V" is evaluated as
    deg·10·v < (10+eps_x10)·m by cross-multiplication; the one-row
    totals aggregate is broadcast back into the degree filter.

    Returns one stats row per peel state: (round, n_nodes, n_edges,
    density_x1e6 = E·1e6 DIV V) — row 0 is the input graph, row r the
    graph after r peels; the densest round is the max density_x1e6 row
    (ties: earliest round has the larger graph). Per-round cost: one
    degree agg + one broadcast threshold filter + two semi-joins, graph
    checkpointed per round (the CC/PageRank iterative family).
    """
    und = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    cur = (
        und.unionByName(
            und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    stats = []

    def _stats(df: DataFrame, r: int) -> DataFrame:
        return df.agg(
            F.countDistinct("src").alias("_v"), F.count(F.lit(1)).alias("_m")
        ).select(
            F.lit(r).cast("long").alias("round"),
            F.col("_v").cast("long").alias("n_nodes"),
            (F.col("_m") / 2).cast("long").alias("n_edges"),
            F.when(F.col("_v") == 0, F.lit(0).cast("long")).otherwise(
                F.expr("CAST(_m DIV 2 * 1000000 DIV _v AS BIGINT)")
            ).alias("density_x1e6"),
        )

    for r in range(rounds):
        stats.append(_stats(cur, r))
        tot = cur.agg(
            F.countDistinct("src").alias("_v"), F.count(F.lit(1)).alias("_m")
        )
        deg = cur.groupBy("src").agg(F.count(F.lit(1)).alias("_deg"))
        keep = (
            deg.crossJoin(F.broadcast(tot))
            .filter(
                F.col("_deg") * F.lit(10) * F.col("_v")
                >= F.lit(10 + eps_x10) * F.col("_m")
            )
            .select("src")
        )
        cur = (
            cur.join(keep, "src", "left_semi")
            .join(keep.select(F.col("src").alias("dst")), "dst", "left_semi")
            .localCheckpoint(eager=True)
        )
    stats.append(_stats(cur, rounds))
    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    return out


def rich_club(
    edges: DataFrame,
    thresholds=(2, 4, 8),
) -> DataFrame:
    """Rich-club coefficient (Colizza et al. 2006): for each degree
    threshold k, the realized edge density among nodes of degree > k —
    phi(k) -> 1 means the hubs form a near-clique (an elite core routing
    everything), phi(k) ~ overall density means hubs ignore each other.
    Reads together with `degree_assortativity`: assortativity is the
    edge-level correlation, the rich club is the subgraph-level readout
    of the same question. (Raw phi, not the randomized-null-normalized
    variant — the null model needs degree-preserving rewiring, which is
    a sampling procedure, not a query.)

    Shape: one degree aggregate joined onto edges ONCE (both endpoint
    degrees attached in two joins), then every threshold is a map-only
    explode fan over that single edge pass — never |thresholds| scans;
    node counts per k fan off the degree table the same way. Exact
    integers: phi_x1e6 = 2·E_k·1e6 DIV (n_k·(n_k−1)).

    Returns (k, n_nodes, n_edges, phi_x1e6) — n_edges undirected.
    """
    und = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    sym = (
        und.unionByName(
            und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).localCheckpoint(
        eager=True
    )  # edge-degree joins + node fan share it
    ks = F.array(*[F.lit(int(k)) for k in thresholds])
    ed = (
        sym.join(deg.select(F.col("src"), F.col("deg").alias("dga")), "src")
        .join(
            deg.select(F.col("src").alias("dst"), F.col("deg").alias("dgb")),
            "dst",
        )
        .filter(F.col("src") < F.col("dst"))  # undirected once
    )
    e_k = (
        ed.select(F.least("dga", "dgb").alias("mindeg"))
        .select("mindeg", F.explode(ks).alias("k"))
        .filter(F.col("mindeg") > F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )
    n_k = (
        deg.select("deg", F.explode(ks).alias("k"))
        .filter(F.col("deg") > F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    return (
        n_k.join(e_k, "k", "left")
        .select(
            F.col("k").cast("long").alias("k"),
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.coalesce("n_edges", F.lit(0)).cast("long").alias("n_edges"),
            F.expr(
                "CAST(CASE WHEN n_nodes <= 1 THEN 0 "
                "ELSE 2 * coalesce(n_edges, 0) * 1000000 "
                "DIV (n_nodes * (n_nodes - 1)) END AS BIGINT)"
            ).alias("phi_x1e6"),
        )
    )


def landmark_stress(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int = 2,
) -> DataFrame:
    """Landmark stress centrality (Shimbel 1953; landmark restriction per
    Brandes & Pich 2007): how many shortest paths from the landmark set
    pass THROUGH each node — the load-bearing-node readout beside
    harmonic closeness (how near) and PageRank (how endorsed).
    Betweenness proper divides by sigma_st and leaves the integers;
    stress keeps the raw path counts, so the whole two-pass Brandes
    machinery stays EXACT-integer and oracle-replayable:

      forward  (r rounds): BFS levels with path multiplicities
                sigma(v) = SUM over predecessors' sigma,
      backward (r rounds): chi(v) = SUM over DAG successors (chi(w) + 1)
                = number of shortest-path ENDPOINTS beyond v,
      stress(v) = sigma(v) * chi(v), summed over landmarks.

    Landmarks run SIMULTANEOUSLY (the landmark id is part of every key),
    so the round count does not multiply by |landmarks|. Per forward
    round: frontier join + anti-join against visited + combinable sigma
    sum; per backward round: one join of the next level's chi onto the
    DAG successor relation (built once from the settled level table).
    Everything checkpointed per round — the CC/PageRank iterative
    family. Truncation at ``rounds`` is the documented landmark-BFS
    contract (bfs_distances): paths longer than r are not counted.

    ``sources``: (node) landmarks. Returns (node, dist, sigma, chi,
    stress) aggregated over landmarks (dist = min over landmarks).
    """
    und = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    sym = (
        und.unionByName(
            und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    settled = sources.select(
        F.col("node").alias("lm"),
        F.col("node"),
        F.lit(0).cast("int").alias("dist"),
        F.lit(1).cast("long").alias("sigma"),
    ).localCheckpoint(eager=True)
    frontier = settled
    for t in range(1, rounds + 1):
        nxt = (
            frontier.join(sym, frontier["node"] == sym["src"])
            .groupBy("lm", "dst")
            .agg(F.sum("sigma").alias("sigma"))
            .join(
                settled.select("lm", F.col("node").alias("dst")),
                ["lm", "dst"],
                "left_anti",
            )
            .select(
                "lm",
                F.col("dst").alias("node"),
                F.lit(t).cast("int").alias("dist"),
                "sigma",
            )
            .localCheckpoint(eager=True)
        )
        settled = settled.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    # DAG successor relation: settled v -> settled w, edge v->w, dist+1
    a = settled.select("lm", F.col("node").alias("src"), F.col("dist").alias("dv"))
    b = settled.select(
        "lm", F.col("node").alias("dst"), F.col("dist").alias("dw"),
        F.col("sigma").alias("sw"),
    )
    succ = (
        a.join(sym, "src")
        .join(b, ["lm", "dst"])
        .filter(F.col("dw") == F.col("dv") + 1)
        .select("lm", "src", "dst", "dv", "dw")
        .localCheckpoint(eager=True)
    )
    # backward chi accumulation, deepest level first
    chi = settled.filter(F.col("dist") == rounds).select(
        "lm", "node", F.lit(0).cast("long").alias("chi")
    )
    acc = chi
    for d in range(rounds - 1, -1, -1):
        level = settled.filter(F.col("dist") == d).select("lm", "node")
        contrib = (
            succ.filter(F.col("dv") == d)
            .join(
                acc.select("lm", F.col("node").alias("dst"), "chi"),
                ["lm", "dst"],
            )
            .groupBy("lm", "src")
            .agg(F.sum(F.col("chi") + F.lit(1)).alias("chi"))
            .select("lm", F.col("src").alias("node"), "chi")
        )
        lvl_chi = level.join(contrib, ["lm", "node"], "left").select(
            "lm", "node", F.coalesce("chi", F.lit(0)).cast("long").alias("chi")
        ).localCheckpoint(eager=True)
        acc = acc.unionByName(lvl_chi)
    out = settled.join(acc, ["lm", "node"])
    return out.groupBy("node").agg(
        F.min("dist").cast("long").alias("dist"),
        F.sum("sigma").cast("long").alias("sigma"),
        F.sum("chi").cast("long").alias("chi"),
        F.sum(F.col("sigma") * F.col("chi")).cast("long").alias("stress"),
    )


def boruvka_mst(
    edges: DataFrame,
    max_rounds: int = 16,
) -> DataFrame:
    """Minimum spanning forest by Boruvka's algorithm over undirected
    `(u, v, w)` edges with UNIQUE integer weights — the classic
    O(log V)-round distributed MST (each round every component grabs its
    min-weight outgoing edge, components at least halve). The backbone
    extractor for KG entity graphs: the cheapest skeleton connecting all
    canonical entities through their strongest links (weights =
    inverted affinity).

    UNIQUE weights are the caller's contract (compose a tie-break into
    `w`, e.g. `rarity*1000 + u_key*K + v_key`): unique weights make the
    MST unique, so ANY correct algorithm emits the identical edge set —
    which is how the DuckDB oracle replays this without simulating
    rounds: it uses the cycle-property characterization (an edge is in
    the MST iff its endpoints are NOT connected by strictly lighter
    edges) via one recursive reachability CTE.

    Round shape (all hash joins + map-side-combinable aggs):
    1. tag edges with endpoint components (2 joins vs the comp table),
       keep CROSS edges only and checkpoint them — the next round scans
       this SHRUNKEN edge set (intra-component edges never resurface);
    2. per component, min-of-struct over its cross edges via ONE
       explode-fan pass (struct compares `w` first, unique weights ⇒
       deterministic; explode(array(cu, cv)) instead of a 2-branch
       union so the cross join executes once — the minhash-bands
       re-execution family);
    3. merge: selected edges form a pointer pseudoforest whose only
       cycles are 2-cycles (both endpoints of a cluster's global-min
       edge pick each other); break them toward the smaller label, then
       pointer-jump with doubling + a fixpoint early-exit to relabel
       every component to its root — same doubling as the CC star
       rounds, but on the COMPONENT table (≤ |V| rows, halving each
       outer round; chains are typically 2-4 long on random weights, so
       the early exit beats bit_length(n) blind jumps — measured
       stage-latency-bound at 150k comps without it).
    Per-round localCheckpoint cuts lineage; driver traffic is one
    isEmpty + one count per round plus one isEmpty per jump (O(1) rows).

    Returns the forest edges (u, v, w).
    """
    comp = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .dropDuplicates()
        .select("node", F.col("node").alias("comp"))
        .localCheckpoint(eager=True)
    )
    e = edges.select("u", "v", "w")
    forest = None
    for _ in range(max_rounds):
        cross = (
            e.join(
                comp.select(F.col("node").alias("u"), F.col("comp").alias("cu")),
                "u",
            )
            .join(
                comp.select(F.col("node").alias("v"), F.col("comp").alias("cv")),
                "v",
            )
            .filter(F.col("cu") != F.col("cv"))
            .localCheckpoint(eager=True)
        )
        if cross.isEmpty():
            break
        e = cross.select("u", "v", "w")  # shrunken edge set for next round
        cand = cross.select(
            F.explode(F.array("cu", "cv")).alias("c"), "w", "u", "v", "cu", "cv"
        )
        sel = (
            cand.groupBy("c")
            .agg(F.min(F.struct("w", "u", "v", "cu", "cv")).alias("m"))
            .select(
                "c",
                F.col("m.w").alias("w"),
                F.col("m.u").alias("u"),
                F.col("m.v").alias("v"),
                F.col("m.cu").alias("cu"),
                F.col("m.cv").alias("cv"),
            )
            .localCheckpoint(eager=True)
        )
        new_edges = sel.select("u", "v", "w").dropDuplicates(["u", "v"])
        forest = (
            new_edges if forest is None else forest.unionByName(new_edges)
        ).localCheckpoint(eager=True)
        ptr = sel.select(
            "c",
            F.when(F.col("cu") == F.col("c"), F.col("cv"))
            .otherwise(F.col("cu"))
            .alias("p"),
        )
        # break 2-cycles toward the smaller label (those become roots)
        ptr = (
            ptr.alias("a")
            .join(
                ptr.select(F.col("c").alias("p"), F.col("p").alias("gp")).alias(
                    "b"
                ),
                "p",
            )
            .select(
                "c",
                F.when(
                    (F.col("gp") == F.col("c")) & (F.col("c") < F.col("p")),
                    F.col("c"),
                )
                .otherwise(F.col("p"))
                .alias("p"),
            )
            .localCheckpoint(eager=True)
        )
        # pointer-jump to roots with doubling + fixpoint early-exit:
        # chains are typically 2-4 long (random weights), so counting
        # changed pointers per jump (one cheap agg on the checkpointed
        # jump result) beats bit_length(n_comps) blind jumps — measured
        # stage-latency-bound at 150k comps before the early exit.
        jumps = max(1, int(ptr.count()).bit_length())
        for _ in range(jumps):
            j = (
                ptr.alias("a")
                .join(
                    ptr.select(
                        F.col("c").alias("p"), F.col("p").alias("gp")
                    ).alias("b"),
                    "p",
                    "left",
                )
                .select("c", "p", "gp")
                .localCheckpoint(eager=True)
            )
            changed = j.filter(
                F.col("gp").isNotNull() & (F.col("gp") != F.col("p"))
            ).isEmpty()
            ptr = j.select("c", F.coalesce("gp", "p").alias("p"))
            if changed:
                break
        comp = (
            comp.join(ptr.withColumnRenamed("c", "comp"), "comp", "left")
            .select("node", F.coalesce("p", "comp").alias("comp"))
            .localCheckpoint(eager=True)
        )
    if forest is None:
        return edges.select("u", "v", "w").limit(0)
    return forest


def katz_unrolled(
    edges: DataFrame,
    rounds: int = 3,
    beta_shift: int = 3,
    weight_col: str | None = None,
) -> DataFrame:
    """Katz centrality, `rounds` terms unrolled with attenuation
    β = 2^-beta_shift, in EXACT integer arithmetic: returns per node
    katz_scaled = Σ_{i=1..r} 8^{r-i} · (Aᵀ)ⁱ·1  (for beta_shift=3),
    i.e. the Katz sum × 8^r with every product an exact BIGINT — walks
    of length i into a node, attenuated by β^i, with β a binary power
    so the scaling is a bit shift both engines replay exactly
    (the bit-shift-decay discipline from `decayed_activity`).

    The "how reachable is this node through short weighted walks"
    centrality beside PageRank (random-surfer) and stress (shortest
    paths): on a tool-transition graph it ranks tools by how much
    attenuated workflow traffic flows INTO them. One hash join + one
    map-side-combinable agg per round over (src, dst[, weight]) edges;
    per-round localCheckpoint; headroom katz ≤ (Σw)^rounds · 8^rounds —
    callers keep rounds small (the attenuated tail is negligible
    anyway: β³ = 1/512).
    """
    w = (
        F.col(weight_col).cast("long")
        if weight_col
        else F.lit(1).cast("long")
    )
    e = edges.select("src", "dst", w.alias("w")).localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    x = nodes.select("node", F.lit(1).cast("long").alias("x"))
    total = None
    mult = 2 ** (beta_shift * (rounds - 1))
    for _ in range(rounds):
        x = (
            e.join(x.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("w") * F.col("x")).alias("x"))
            .withColumnRenamed("dst", "node")
            .localCheckpoint(eager=True)
        )
        term = x.select("node", (F.col("x") * F.lit(mult)).alias("t"))
        total = term if total is None else total.unionByName(term)
        mult //= 2 ** beta_shift
    return (
        nodes.join(
            total.groupBy("node").agg(F.sum("t").alias("katz_scaled")),
            "node",
            "left",
        )
        .select(
            "node",
            F.coalesce("katz_scaled", F.lit(0)).cast("long").alias(
                "katz_scaled"
            ),
        )
    )


def greedy_matching(
    edges: DataFrame,
    max_rounds: int = 16,
) -> DataFrame:
    """Maximum-weight greedy matching by locally-dominant edges (Preis
    1999): each round selects every edge that is the max-weight incident
    edge at BOTH endpoints (with unique weights these are exactly the
    edges sequential greedy would pick next), removes matched nodes, and
    repeats. The one-to-one pairing primitive behind exclusive entity
    alignment (each KB entity claims at most one partner) — the
    generalization of `kb_alignment_mutual`'s single mutual-best round
    to a full matching, with the same 1/2-approximation guarantee as
    sequential greedy (which it reproduces EXACTLY for unique weights).

    UNIQUE weights are the caller's contract (compose a tie-break into
    `w` like `boruvka_mst`); they make the per-node argmax and hence the
    whole matching unique, so a fixed-round SQL replay emits the
    identical edge set — extra rounds after convergence are no-ops, so
    engines need not agree on when convergence happened, only on the
    round count being LARGE ENOUGH (worst case: a weight-increasing
    path matches one edge per 2 removed nodes → |V|/2 rounds; callers
    size max_rounds to the fixture or rely on the expected-O(log V)
    behavior on random weights).

    Round shape: per-node max over incident alive edges (one combinable
    agg over the 2x exploded endpoint view), two semi-joins to keep
    edges winning at both ends, two anti-joins to drop matched nodes.
    Per-round localCheckpoint; one isEmpty driver check per round.

    Returns the matched edges (u, v, w).
    """
    alive = edges.select("u", "v", "w").localCheckpoint(eager=True)
    matched = None
    for _ in range(max_rounds):
        if alive.isEmpty():
            break
        ends = alive.select(F.col("u").alias("node"), "w").unionByName(
            alive.select(F.col("v").alias("node"), "w")
        )
        best = ends.groupBy("node").agg(F.max("w").alias("bw"))
        sel = (
            alive.join(
                best.select(F.col("node").alias("u"), F.col("bw").alias("bu")),
                "u",
            )
            .join(
                best.select(F.col("node").alias("v"), F.col("bw").alias("bv")),
                "v",
            )
            .filter((F.col("w") == F.col("bu")) & (F.col("w") == F.col("bv")))
            .select("u", "v", "w")
            .localCheckpoint(eager=True)
        )
        if sel.isEmpty():
            break
        matched = (
            sel if matched is None else matched.unionByName(sel)
        ).localCheckpoint(eager=True)
        mnodes = sel.select(F.col("u").alias("node")).unionByName(
            sel.select(F.col("v").alias("node"))
        )
        alive = (
            alive.join(mnodes.withColumnRenamed("node", "u"), "u", "left_anti")
            .join(mnodes.withColumnRenamed("node", "v"), "v", "left_anti")
            .select("u", "v", "w")
            .localCheckpoint(eager=True)
        )
    if matched is None:
        return edges.select("u", "v", "w").limit(0)
    return matched


def simrank_unrolled(
    edges: DataFrame,
    rounds: int = 2,
) -> DataFrame:
    """Quantized SimRank (Jeh & Widom 2002) with C = 1/2, `rounds`
    iterations unrolled, in EXACT integer arithmetic: two nodes are
    similar if their in-neighbors are similar —
    s_{k+1}(a,b) = Σ_{i∈I(a), j∈I(b)} s_k(i,j) DIV (2·|I(a)|·|I(b)|),
    s_k(x,x) = 1e6 at every k, stored ×1e6. The structural-equivalence
    similarity beside `neighborhood_overlap`'s direct-Jaccard: SimRank
    sees two importers as similar because they buy from SIMILAR
    (not necessarily identical) exporters. The per-round integer DIV
    truncation is part of the quantized spec (both engines replay it
    bit-for-bit; error vs real SimRank <= 1e-6·n per round).

    Scale note: the pair fan is O(n²·d²) — this is a SMALL-GRAPH
    operator (dimension tables: KBs of nations, tools, types). For
    web-scale node counts use the random-walk/Monte-Carlo SimRank
    family instead; this exact form is the oracle-checkable reference.

    Returns (a, b, s_x1e6) for a < b with s > 0.
    """
    in_e = edges.select(
        F.col("dst").alias("node"), F.col("src").alias("nb")
    ).dropDuplicates().localCheckpoint(eager=True)
    deg = in_e.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    # s starts empty (off-diagonal all zero); diagonal is implicit 1e6
    s = None
    for _ in range(rounds):
        # diagonal contribution: common in-neighbors i (s(i,i) = 1e6)
        diag = (
            in_e.alias("x")
            .join(in_e.alias("y"), F.col("x.nb") == F.col("y.nb"))
            .filter(F.col("x.node") < F.col("y.node"))
            .groupBy(
                F.col("x.node").alias("a"), F.col("y.node").alias("b")
            )
            .agg((F.count(F.lit(1)) * F.lit(1000000)).alias("t"))
        )
        if s is not None:
            s_full = s.unionByName(
                s.select(
                    F.col("b").alias("a"), F.col("a").alias("b"), "s_x1e6"
                )
            )
            off = (
                in_e.alias("x")
                .join(
                    s_full.alias("sv"), F.col("x.nb") == F.col("sv.a")
                )
                .join(in_e.alias("y"), F.col("sv.b") == F.col("y.nb"))
                .filter(F.col("x.node") < F.col("y.node"))
                .groupBy(
                    F.col("x.node").alias("a"), F.col("y.node").alias("b")
                )
                .agg(F.sum("s_x1e6").alias("t"))
            )
            total = (
                diag.unionByName(off)
                .groupBy("a", "b")
                .agg(F.sum("t").alias("t"))
            )
        else:
            total = diag
        s = (
            total.join(
                F.broadcast(deg.select(F.col("node").alias("a"), F.col("d").alias("da"))),
                "a",
            )
            .join(
                F.broadcast(deg.select(F.col("node").alias("b"), F.col("d").alias("db"))),
                "b",
            )
            .select(
                "a",
                "b",
                F.expr("CAST(t DIV (2 * da * db) AS BIGINT)").alias("s_x1e6"),
            )
            .filter(F.col("s_x1e6") > 0)
            .localCheckpoint(eager=True)
        )
    if s is None:
        return edges.sparkSession.createDataFrame(
            [], "a string, b string, s_x1e6 long"
        )
    return s


def adamic_adar(
    edges: DataFrame,
    min_common: int = 1,
) -> DataFrame:
    """Adamic-Adar link-prediction index, quantized to exact integers —
    the 1/log(deg) sibling `resource_allocation` documents skipping
    ("needs floats"): AA damps hub neighbors LOGARITHMICALLY, sitting
    between the raw common-neighbor count (no damping) and RA's 1/deg
    (aggressive damping), and is the classic middle setting an ER
    blocking stage sweeps (Adamic & Adar 2003; reference merges rank
    by raw co-occurrence only, src/ranking.py).

    Exact-integer contract: 1/log2(deg) is quantized as
    `1e6 DIV msb(deg)` with msb(d) = length(bin(d)) − 1 = floor(log2 d)
    — `bin()` exists with identical semantics in Spark and DuckDB, so
    the oracle replays the score bit-for-bit. Any common neighbor has
    deg ≥ 2, hence msb ≥ 1: no zero division. Monotonicity of the
    damping in deg is preserved exactly at power-of-two boundaries,
    which is what the ranking consumes.

    Shape: identical single wedge self-join as `resource_allocation`
    (degree pre-joined on the shared-neighbor side, one combinable
    per-pair sum, no trailing joins); the same hub-wedge skew caveat
    applies. `min_common` prunes inside the aggregate.

    Returns (node_a, node_b, n_common, aa_x1e6), node_a < node_b.
    """
    und = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    sym = (
        und.unionByName(
            und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    deg_z = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg_z"))
    a = sym.join(
        deg_z.select(F.col("src").alias("dst"), "deg_z"), "dst"
    ).select(F.col("src").alias("node_a"), "dst", "deg_z")
    b = sym.select(F.col("src").alias("node_b"), "dst")
    return (
        a.join(b, "dst")
        .filter(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(
                F.expr("CAST(1000000 AS BIGINT) DIV (length(bin(deg_z)) - 1)")
            ).alias("aa_x1e6"),
        )
        .filter(F.col("n_common") >= min_common)
    )


def edge_embeddedness(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Edge embeddedness and local bridges (Granovetter tie strength):
    per undirected edge, the number of common neighbors of its
    endpoints — 0 marks a LOCAL BRIDGE, the edge whose removal forces
    traffic between its endpoints onto a path of length > 2, i.e. the
    weak tie information actually flows across. The edge-level
    companion to `clustering_coefficient` (node-level) and
    `neighborhood_overlap`.

    Shape: the adamic_adar wedge pattern pointed back at edges — the
    symmetric adjacency self-joined on the shared endpoint gives each
    unordered pair its common-neighbor count map-side; one LEFT join
    from the distinct edge list attaches counts, so zero-embeddedness
    edges (the bridges) survive. Cost is Σ deg² wedges, the triangle
    bound; no per-edge re-scan.

    Returns (u, v, embeddedness, is_local_bridge) with u < v.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    sym = und.unionByName(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)  # feeds both wedge sides + the edge list
    a = sym.select(F.col("u").alias("__a"), F.col("v").alias("__w"))
    b = sym.select(F.col("u").alias("__b"), F.col("v").alias("__w"))
    wedges = (
        a.join(b, "__w")
        .filter(F.col("__a") < F.col("__b"))
        .groupBy("__a", "__b")
        .agg(F.count(F.lit(1)).cast("long").alias("__cn"))
    )
    return (
        sym.filter(F.col("u") < F.col("v"))
        .join(
            wedges,
            (F.col("u") == F.col("__a")) & (F.col("v") == F.col("__b")),
            "left",
        )
        .select(
            "u",
            "v",
            F.coalesce(F.col("__cn"), F.lit(0)).cast("long").alias(
                "embeddedness"
            ),
            (F.coalesce(F.col("__cn"), F.lit(0)) == 0)
            .cast("long")
            .alias("is_local_bridge"),
        )
    )


def dag_path_stats(
    edges: DataFrame, root, max_rounds: int = 64
) -> DataFrame:
    """Exact DAG path statistics by Kahn-style layered dynamic programming:
    for every node of a DAG whose every directed path terminates at `root`,
    compute the longest and shortest path length to the root and the EXACT
    number of distinct directed paths (multiple-inheritance multiplicity —
    the quantity an ontology needs to weigh superclass annotation
    specificity; the reference walks its class DAG one path at a time,
    src/interface.py:52-64, and never counts multiplicity).

    edges(src, dst): src -> dst steps TOWARD the root (acyclic). A node is
    finalized only once ALL its out-neighbors are finalized (count of
    resolved out-edges == outdegree), so max/min/sum are taken over final
    values — n_paths(v) = Σ n_paths(out-neighbors) is exact, never a
    relaxation. Rounds = DAG depth (log-bounded for the divide-lattice
    fixture); each round is one hash join + map-side-combined aggregate,
    per-round eager localCheckpoint cuts lineage (the CC/pagerank loop
    discipline). n_paths is BIGINT; for path-count explosions beyond 2^63
    the caller caps depth — counts stay exact up to that bound.

    Returns (node, d_long, d_short, n_paths); the root row is
    (root, 0, 0, 1).
    """
    spark = edges.sparkSession
    outdeg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("__od")
    )
    resolved = spark.createDataFrame(
        [(int(root), 0, 0, 1)],
        "node long, d_long long, d_short long, n_paths long",
    ).localCheckpoint(eager=True)
    for _ in range(max_rounds):
        cand = (
            edges.join(resolved, edges["dst"] == resolved["node"])
            .groupBy("src")
            .agg(
                F.count(F.lit(1)).cast("long").alias("__nres"),
                (F.max("d_long") + 1).cast("long").alias("d_long"),
                (F.min("d_short") + 1).cast("long").alias("d_short"),
                F.sum("n_paths").cast("long").alias("n_paths"),
            )
            .join(outdeg, "src")
            .filter(F.col("__nres") == F.col("__od"))
            .join(
                resolved.select(F.col("node").alias("src")), "src", "left_anti"
            )
            .select(
                F.col("src").alias("node"), "d_long", "d_short", "n_paths"
            )
        )
        merged = resolved.unionByName(cand).localCheckpoint(eager=True)
        if merged.count() == resolved.count():
            return merged
        resolved = merged
    return resolved


def node2vec_walks(
    edges: DataFrame,
    n_steps: int = 2,
    starts: DataFrame | None = None,
    seed: str = "n2v",
    bucket: int = 1024,
    w_return: int = 1,
    w_common: int = 4,
    w_far: int = 2,
    attempts: int = 4,
) -> DataFrame:
    """Deterministic node2vec-style SECOND-ORDER biased walks (Grover &
    Leskovec 2016): from state (prev t, cur v) the next node x is drawn with
    weight w_return if x == t, w_common if x is also a neighbor of t
    (triangle step), w_far otherwise — the p/q bias expressed as INTEGER
    weights so the pick is exactly replayable cross-engine (w_return ~ 1/p,
    w_far ~ 1/q in the paper's terms).

    Hub-safe sampling: exact cumulative sampling needs per-(t,v) cumulative
    weights — O(deg(v)) per step, the hub blowup the uniform walk's
    index-pick avoids (CLAUDE.md round-3: 9.4x). Instead this uses the
    paper's own scale trick, REJECTION sampling, made deterministic:
    attempt j draws r_j = md5_32(seed|walk|i|j|t|v), candidate
    x_j = sorted-neighbor[r_j mod deg(v)] via the same O(bucket) adjacency
    bucket join as random_walks, and accepts iff
    (r_j DIV deg) mod w_max < w_class(x_j). The walk takes the first
    accepted attempt; if all `attempts` reject (prob (1 - w_min/w_max)^J),
    it falls back to attempt 1's candidate — pinned, documented, and
    replayed identically by the oracle. Per step: one degree join, J bucket
    joins (exploded, still one shuffle), ONE membership join (t, x_j)
    against the distinct edge set, one arg-min per walk. All costs are
    O(attempts * bucket) per walk-step regardless of hub degree.

    Step 1 has no prev and is the uniform index-pick (byte-identical to
    random_walks' arithmetic). Dead-end walks stop. Returns
    (walk_id, step, node); step 0 is the start node.
    """
    from pyspark.sql.window import Window

    nb = (
        edges.select(
            F.col("src").cast("string").alias("src"),
            F.col("dst").cast("string").alias("dst"),
        )
        .dropDuplicates(["src", "dst"])
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("src").orderBy("dst")
    idx = nb.withColumn("i", F.row_number().over(w) - 1)
    deg = idx.groupBy("src").agg(
        F.count(F.lit(1)).alias("deg")
    ).localCheckpoint(eager=True)
    abuckets = (
        idx.withColumn("b_id", F.expr(f"i DIV {int(bucket)}"))
        .withColumn("off", F.expr(f"i % {int(bucket)}"))
        .groupBy("src", "b_id")
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(off, dst))),"
                " s -> s.dst)"
            ).alias("nbrs")
        )
        .localCheckpoint(eager=True)
    )
    if starts is None:
        starts = nb.select(F.col("src").alias("node")).dropDuplicates()

    def _md5_32(*cols):
        return F.conv(
            F.substring(F.md5(F.concat_ws("|", *cols)), 1, 8), 16, 10
        ).cast("long")

    # step 1: uniform (no prev) — random_walks' exact arithmetic
    frontier = starts.select(
        F.col("node").cast("string").alias("walk_id"),
        F.col("node").cast("string").alias("cur"),
    )
    out = frontier.select(
        "walk_id", F.lit(0).alias("step"), F.col("cur").alias("node")
    )
    h1 = _md5_32(F.lit(seed), F.col("walk_id"), F.lit("1"), F.col("cur"))
    picked = (
        frontier.join(deg, frontier["cur"] == deg["src"])
        .withColumn("k", F.pmod(h1, F.col("deg")))
        .withColumn("b_id", F.expr(f"k DIV {int(bucket)}"))
        .select("walk_id", "cur", "k", "b_id")
    )
    frontier = (
        picked.join(
            abuckets,
            (picked["cur"] == abuckets["src"])
            & (picked["b_id"] == abuckets["b_id"]),
        )
        .select(
            "walk_id",
            F.col("cur").alias("prev"),
            F.element_at(
                F.col("nbrs"), (F.col("k") % F.lit(int(bucket))).cast("int") + 1
            ).alias("cur"),
        )
        .localCheckpoint(eager=True)
    )
    out = out.unionByName(
        frontier.select(
            "walk_id", F.lit(1).alias("step"), F.col("cur").alias("node")
        )
    )

    w_max = max(int(w_return), int(w_common), int(w_far))
    for i in range(2, n_steps + 1):
        att = frontier.withColumn(
            "j", F.explode(F.sequence(F.lit(1), F.lit(int(attempts))))
        )
        r = _md5_32(
            F.lit(seed),
            F.col("walk_id"),
            F.lit(str(i)),
            F.col("j").cast("string"),
            F.col("prev"),
            F.col("cur"),
        )
        cand = (
            att.withColumn("__r", r)
            .join(deg, att["cur"] == deg["src"])
            .withColumn("k", F.pmod(F.col("__r"), F.col("deg")))
            .withColumn(
                "u", F.pmod(F.expr("__r DIV deg"), F.lit(w_max)).cast("long")
            )
            .withColumn("b_id", F.expr(f"k DIV {int(bucket)}"))
            .select("walk_id", "prev", "cur", "j", "k", "u", "b_id")
        )
        cand = (
            cand.join(
                abuckets,
                (cand["cur"] == abuckets["src"])
                & (cand["b_id"] == abuckets["b_id"]),
            )
            .select(
                "walk_id",
                "prev",
                "cur",
                "j",
                "u",
                F.element_at(
                    F.col("nbrs"),
                    (F.col("k") % F.lit(int(bucket))).cast("int") + 1,
                ).alias("x"),
            )
        )
        member = nb.select(
            F.col("src").alias("prev"), F.col("dst").alias("x"), F.lit(1).alias("__m")
        )
        cand = (
            cand.join(member, ["prev", "x"], "left")
            .withColumn(
                "w_class",
                F.when(F.col("x") == F.col("prev"), F.lit(int(w_return)))
                .when(F.col("__m").isNotNull(), F.lit(int(w_common)))
                .otherwise(F.lit(int(w_far))),
            )
            .withColumn("acc", F.col("u") < F.col("w_class"))
        )
        # first accepted attempt; fallback = attempt 1's candidate
        nxt = cand.groupBy("walk_id", "cur").agg(
            F.expr(
                f"min_by(x, CASE WHEN acc THEN j ELSE {int(attempts)} + j END)"
            ).alias("x")
        )
        frontier = nxt.select(
            "walk_id", F.col("cur").alias("prev"), F.col("x").alias("cur")
        ).localCheckpoint(eager=True)
        out = out.unionByName(
            frontier.select(
                "walk_id", F.lit(i).alias("step"), F.col("cur").alias("node")
            )
        )
    return out


def coarsen_graph(edges: DataFrame, matching: DataFrame) -> DataFrame:
    """One multilevel coarsening level (Karypis-Kumar style): contract each
    matched pair into a supernode labeled min(u, v), remap every edge
    endpoint through the (broadcastable) matching, drop the intra-pair
    self-loops, and sum the weights of parallel edges that merge. The
    matching half of METIS-style partitioning: |V| shrinks by the matching
    size per level while total cut weight is preserved exactly.

    `edges(u, v, w)` undirected, `matching(u, v)` node-disjoint pairs
    (greedy_matching output). Mapping is 2·|M| rows — broadcast; the remap
    is map-only over edges; the merge is one (cu, cv) shuffle with map-side
    combine. Returns (cu, cv, w_sum, n_merged), cu < cv."""
    mp = (
        matching.select(F.col("u").alias("node"), F.least("u", "v").alias("s"))
        .unionByName(
            matching.select(
                F.col("v").alias("node"), F.least("u", "v").alias("s")
            )
        )
    )
    e = (
        edges.join(
            F.broadcast(mp.select(F.col("node").alias("u"), F.col("s").alias("__su"))),
            "u",
            "left",
        )
        .join(
            F.broadcast(mp.select(F.col("node").alias("v"), F.col("s").alias("__sv"))),
            "v",
            "left",
        )
        .select(
            F.coalesce("__su", F.col("u")).alias("su"),
            F.coalesce("__sv", F.col("v")).alias("sv"),
            "w",
        )
        .filter(F.col("su") != F.col("sv"))
    )
    return (
        e.groupBy(
            F.least("su", "sv").alias("cu"), F.greatest("su", "sv").alias("cv")
        )
        .agg(
            F.sum("w").cast("long").alias("w_sum"),
            F.count(F.lit(1)).cast("long").alias("n_merged"),
        )
    )


def modularity_score(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Newman modularity of a community labeling over an undirected simple
    graph — THE objective community detection optimizes, exposed as an
    exact-integer evaluator so a labeling (label propagation, the
    multilevel partition, a metadata partition like regions) can be
    scored and compared: Q = Σ_c [ e_c/m − (d_c/2m)² ] where e_c =
    intra-community edges, d_c = community degree mass, m = |E|.

    Exact-integer contract: Q = num / (4m²) with num = Σ_c (4m·e_c −
    d_c²) — a SINGLE rational whose numerator is an exact BIGINT sum, so
    engines can't drift; the emitted q_x1e6 is the sign-consistent
    staged quotient (num DIV t)·1e6 + (num % t)·1e6 DIV t, t = 4m²
    (both engines truncate toward zero — CLAUDE.md round-3 sign fact).
    |num| <= 8m², so the staging is required only past m ~ 1e6; it is
    used unconditionally.

    Shape: orientation-deduped edge list (one distinct), degrees from
    it (one groupBy), labels joined per endpoint (broadcastable when the
    labeling is a dimension), then TWO label-keyed aggregates merged by
    a |labels|-sized outer join — cost is edges + |communities|, never
    pairs. Nodes absent from `labels` fall into the sentinel community
    '__unlabeled__'.

    Returns one row (m, n_comms, intra_edges, num, q_x1e6). Random
    labelings read ~0; a partition aligned with the graph's cut
    structure reads up to 1e6·(1 − 1/k)."""
    ue = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    lab = labels.select(
        F.col(node_col).alias("__n"), F.col(label_col).alias("__l")
    )
    deg = (
        ue.select(F.col("u").alias("__n"))
        .unionAll(ue.select(F.col("v").alias("__n")))
        .groupBy("__n")
        .agg(F.count(F.lit(1)).cast("long").alias("__d"))
    )
    sent = F.lit("__unlabeled__")
    dc = (
        deg.join(lab, ["__n"], "left")
        .select(F.coalesce(F.col("__l"), sent).alias("__l"), "__d")
        .groupBy("__l")
        .agg(F.sum("__d").cast("long").alias("dc"))
    )
    lu = lab.select(F.col("__n").alias("u"), F.col("__l").alias("__lu"))
    lv = lab.select(F.col("__n").alias("v"), F.col("__l").alias("__lv"))
    ec = (
        ue.join(lu, ["u"], "left")
        .join(lv, ["v"], "left")
        .filter(
            F.coalesce(F.col("__lu"), sent) == F.coalesce(F.col("__lv"), sent)
        )
        .select(F.coalesce(F.col("__lu"), sent).alias("__l"))
        .groupBy("__l")
        .agg(F.count(F.lit(1)).cast("long").alias("ec"))
    )
    m1 = ue.agg(F.count(F.lit(1)).cast("long").alias("m"))
    per = (
        dc.join(ec, ["__l"], "left")
        .select("__l", "dc", F.coalesce(F.col("ec"), F.lit(0)).alias("ec"))
        .crossJoin(F.broadcast(m1))
        .select(
            "m",
            (F.lit(4) * F.col("m") * F.col("ec") - F.col("dc") * F.col("dc"))
            .cast("long")
            .alias("__num"),
            F.col("ec").alias("__ec"),
        )
    )
    return per.groupBy("m").agg(
        F.count(F.lit(1)).cast("long").alias("n_comms"),
        F.sum("__ec").cast("long").alias("intra_edges"),
        F.sum("__num").cast("long").alias("num"),
    ).select(
        "m",
        "n_comms",
        "intra_edges",
        "num",
        F.expr(
            "CAST(num DIV (4 * m * m) * CAST(1000000 AS BIGINT)"
            " + num % (4 * m * m) * CAST(1000000 AS BIGINT)"
            "   DIV (4 * m * m) AS BIGINT)"
        ).alias("q_x1e6"),
    )


def assortativity_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002) of an undirected
    simple graph — the Pearson correlation of endpoint degrees over
    edges: social graphs read positive (hubs befriend hubs), web/biology
    read negative (hubs attach to leaves). The graph-health fingerprint
    beside the degree histogram: a KG whose alias graph turns strongly
    disassortative has grown hub-and-spoke entities — exactly the skew
    the salted join / precontraction path exists for, so this is the
    cheap monitor that says WHEN that path matters.

    Exactness: over the SYMMETRIZED directed edge list both endpoint
    marginals are identical, so Pearson's sqrt(var_x·var_y) collapses to
    one variance and r = num/den is a PLAIN RATIONAL of BIGINT moments:
    num = M·Σxy − S², den = M·Σx² − S² (M = 2m, S = Σx = Σy = Σdeg²
    ... all integer — degrees are counts). No sqrt, no float, no
    quantization beyond the final sign-consistent staged 1e6 quotient.
    Overflow bound: M·Σx² <= M²·dmax² — safe to ~2^63 for M·dmax < 3e9
    (a 100M-edge graph with 10k-degree hubs: lift moments to
    DECIMAL(38) past that).

    Shape: orientation-dedupe (one distinct), degree groupBy, two
    broadcastable degree joins back onto edges, one scalar rollup —
    cost is edges, never pairs.

    Returns one row (m, n_nodes, num, den, r_x1e6); den = 0 (regular
    graph — constant degree) reads r = 0 by convention."""
    ue = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        ue.select(F.col("u").alias("__n"))
        .unionAll(ue.select(F.col("v").alias("__n")))
        .groupBy("__n")
        .agg(F.count(F.lit(1)).cast("long").alias("__d"))
    )
    sym = ue.unionAll(ue.select(F.col("v").alias("u"), F.col("u").alias("v")))
    du = deg.select(F.col("__n").alias("u"), F.col("__d").alias("__x"))
    dv = deg.select(F.col("__n").alias("v"), F.col("__d").alias("__y"))
    nn = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    rolled = (
        sym.join(du, ["u"])
        .join(dv, ["v"])
        .agg(
            F.expr("count(1) DIV 2").cast("long").alias("m"),
            F.count(F.lit(1)).cast("long").alias("__M"),
            F.sum("__x").cast("long").alias("__S"),
            F.sum(F.col("__x") * F.col("__y")).cast("long").alias("__sxy"),
            F.sum(F.col("__x") * F.col("__x")).cast("long").alias("__sxx"),
        )
        .crossJoin(F.broadcast(nn))
        .select(
            "m",
            "n_nodes",
            (F.col("__M") * F.col("__sxy") - F.col("__S") * F.col("__S"))
            .cast("long")
            .alias("num"),
            (F.col("__M") * F.col("__sxx") - F.col("__S") * F.col("__S"))
            .cast("long")
            .alias("den"),
        )
    )
    return rolled.select(
        "m",
        "n_nodes",
        "num",
        "den",
        F.when(F.col("den") == 0, F.lit(0).cast("long"))
        .otherwise(
            F.expr(
                "CASE WHEN num < 0 THEN -1 ELSE 1 END"
                " * (abs(num) DIV den * CAST(1000000 AS BIGINT)"
                "    + abs(num) % den * CAST(1000000 AS BIGINT) DIV den)"
            ).cast("long")
        )
        .alias("r_x1e6"),
    )


def influence_seeds(
    edges: DataFrame,
    k: int,
    p_num: int = 1,
    p_den: int = 10,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Degree-discount influence maximization (Chen, Wang & Yang KDD'09):
    pick k spread seeds for the independent-cascade model with propagation
    probability p = p_num/p_den by repeatedly taking the node with the
    largest DISCOUNTED degree dd(v) = d_v - 2*t_v - (d_v - t_v)*t_v*p,
    where t_v counts already-selected neighbors — the standard
    1000x-cheaper stand-in for greedy simulation, within a few percent of
    its spread on sparse graphs. The seed readout a KG pipeline runs to
    choose which entities to annotate/expand first.

    Exact-integer contract: score = dd * p_den = d*p_den - 2*t*p_den -
    (d-t)*t*p_num, all BIGINT (bound ~ d^2 * p_num — overflow-free for any
    real degree). Ties pinned to the smallest node. k driver-synchronized
    rounds, each collecting exactly ONE row (the BPE/k-center argmax
    family); per round one neighbor-membership filter + one degree join —
    never pairs, and the t-computation is a broadcast `isin` against the
    <=k picked seeds. The DuckDB oracle replays the identical k rounds as
    a recursive CTE carrying the picked list.

    Reference parity: no counterpart — the reference ranks nodes only by
    per-type occurrence entropy (/root/reference/src/ranker.py:24-60);
    cascade-aware seed selection is graph-pipeline surface beyond it.

    Returns (rnk, node, score) in pick order.
    """
    spark = edges.sparkSession
    und = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).filter(
        F.col("u") != F.col("v")
    )
    sym = (
        und.unionByName(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    deg = (
        sym.groupBy("u")
        .agg(F.count("*").cast("long").alias("d"))
        .localCheckpoint(eager=True)
    )
    picked: list = []
    out: list = []
    for r in range(1, k + 1):
        if picked:
            t_df = (
                sym.filter(F.col("v").isin(picked))
                .groupBy("u")
                .agg(F.count("*").cast("long").alias("t"))
            )
            scored = (
                deg.filter(~F.col("u").isin(picked))
                .join(t_df, "u", "left")
                .fillna(0, subset=["t"])
            )
        else:
            scored = deg.withColumn("t", F.lit(0).cast("long"))
        row = (
            scored.select(
                "u",
                (
                    F.col("d") * F.lit(p_den)
                    - F.lit(2) * F.col("t") * F.lit(p_den)
                    - (F.col("d") - F.col("t")) * F.col("t") * F.lit(p_num)
                )
                .cast("long")
                .alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("u"))
            .limit(1)
            .collect()
        )
        if not row:
            break
        out.append((r, row[0]["u"], row[0]["score"]))
        picked.append(row[0]["u"])
    if not out:
        return spark.createDataFrame([], "rnk long, node long, score long")
    return spark.createDataFrame(out, ["rnk", "node", "score"])


def louvain_move_round(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """One SYNCHRONOUS Louvain local-moving round (Blondel et al. 2008
    phase-1 step, parallelized): every node simultaneously evaluates
    moving into each neighbor community against the CURRENT labeling and
    takes the best strictly-positive modularity gain — the greedy
    refinement that upgrades a seed labeling (label propagation output,
    the multilevel partition, singletons) before `modularity_score`
    re-scores it. Sequential Louvain guarantees monotone Q; the
    synchronous variant is the standard distributed relaxation (one round
    of Spark-Louvain) — each individual move is optimal w.r.t. the old
    labeling, which is exactly what the oracle replays and the test pins.

    Exact-integer gain: moving i (degree k_i, from community A) into
    neighbor community C != A changes Q by
        dQ = [k_iC - k_iA]/m - k_i*[Sig(C) - Sig(A\\{i})]/(2m^2)
    (k_iX = edges from i into X, Sig = community degree mass, both with i
    REMOVED from its own community first). Scaled by 4m^2 > 0:
        gain_x = 4*m*(k_iC - k_iA) - 2*k_i*(Sig(C) - Sig(A) + k_i)
    — an exact BIGINT (|gain_x| <= 12m^2; lift to DECIMAL(38) past
    m ~ 8e8). Argmax per node over neighbor communities, ties pinned to
    the smallest community label; a node moves only if gain_x > 0.

    Shape: one (node, neighbor-community) aggregate over the symmetrized
    edges + the |communities|-sized degree-mass table broadcast back —
    cost is edges, never pairs; unlabeled nodes default to singleton
    communities equal to their own id cast to string.

    Returns (node, old_label, new_label, gain_x) for EVERY labeled-graph
    node (gain_x = 0 and new_label = old_label for nodes with no
    improving move).
    """
    und = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).filter(
        F.col("u") != F.col("v")
    )
    ue = und.select(
        F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
    ).dropDuplicates()
    sym = ue.unionByName(
        ue.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)
    deg = sym.groupBy("u").agg(F.count("*").cast("long").alias("k"))
    lab = labels.select(
        F.col(node_col).alias("u"), F.col(label_col).cast("string").alias("lbl")
    )
    nl = deg.join(lab, "u", "left").select(
        "u", "k", F.coalesce("lbl", F.col("u").cast("string")).alias("lbl")
    ).localCheckpoint(eager=True)
    m_df = ue.agg(F.count("*").cast("long").alias("m"))
    sig = nl.groupBy("lbl").agg(F.sum("k").cast("long").alias("sig"))
    # k_iC: edges from each node into each neighbor community
    kic = (
        sym.join(nl.select(F.col("u").alias("v"), F.col("lbl").alias("c")), "v")
        .groupBy("u", "c")
        .agg(F.count("*").cast("long").alias("kic"))
    )
    own = nl.select("u", "k", F.col("lbl").alias("old_label"))
    cand = (
        kic.join(own, "u")
        .join(F.broadcast(sig), kic["c"] == sig["lbl"])
        .join(
            F.broadcast(
                sig.select(F.col("lbl").alias("old_label"), F.col("sig").alias("sig_a"))
            ),
            "old_label",
        )
        .crossJoin(F.broadcast(m_df))
    )
    from pyspark.sql.window import Window

    kia = F.coalesce(
        F.max(F.when(F.col("c") == F.col("old_label"), F.col("kic"))).over(
            Window.partitionBy("u")
        ),
        F.lit(0),
    )
    cand = cand.withColumn("kia", kia).filter(F.col("c") != F.col("old_label"))
    gain = (
        F.lit(4) * F.col("m") * (F.col("kic") - F.col("kia"))
        - F.lit(2)
        * F.col("k")
        * (F.col("sig") - F.col("sig_a") + F.col("k"))
    ).cast("long")
    scored = cand.select("u", "old_label", F.col("c"), gain.alias("gain_x"))
    w = Window.partitionBy("u").orderBy(F.desc("gain_x"), F.asc("c"))
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("gain_x") > 0))
        .select(
            "u",
            F.col("c").alias("new_label"),
            F.col("gain_x").alias("bg"),
        )
    )
    return (
        nl.select("u", F.col("lbl").alias("old_label"))
        .join(best, "u", "left")
        .select(
            F.col("u").alias("node"),
            "old_label",
            F.coalesce("new_label", "old_label").alias("new_label"),
            F.coalesce("bg", F.lit(0)).cast("long").alias("gain_x"),
        )
    )


def eigenvector_centrality(
    edges: DataFrame,
    rounds: int = 3,
    scale: int = 1 << 20,
) -> DataFrame:
    """Eigenvector centrality by fixed-round power iteration with integer
    max-normalization: r_{t+1}(v) = Σ_{(u,v)∈E} r_t(u), then rescale so
    the maximum score is exactly `scale` (s·scale DIV max) — the
    no-damping sibling of PageRank (influence ∝ neighbors' influence;
    Bonacich 1972). All arithmetic is BIGINT-exact: scores stay in
    [0, scale] after each rescale, so a round's sum is bounded by
    in-degree·scale — no float, no norm sqrt, and the DuckDB oracle
    replays the unrolled rounds bit-for-bit. A pinned round count is the
    same truncated-fixpoint contract as pagerank_2iter/katz_unrolled.
    Overflow bound: the rescale multiply needs max-in-degree < 2^63/scale²
    (8.4M at the default 2^20 scale); past that, swap the rescale to the
    DECIMAL(38,0) 128-bit device (the control-chart fix) or lower scale.

    Scale shape: each round is one (src-keyed) join + one dst aggregation
    + a 1-row max broadcast; the score vector is eagerly checkpointed per
    round (lineage cut, round-loop family). Nodes with no in-edges decay
    to 0, matching the eigenvector of the adjacency operator restricted
    to the strongly-reachable core.

    Emits (node, score) with score in [0, scale], max node(s) at exactly
    `scale`.
    """
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    r = nodes.withColumn("score", F.lit(scale).cast("long"))
    for _ in range(rounds):
        contrib = (
            edges.join(
                r.select(F.col("node").alias("src"), "score"), "src"
            )
            .groupBy("dst")
            .agg(F.sum("score").alias("s"))
        )
        nr = nodes.join(
            contrib.select(F.col("dst").alias("node"), "s"), "node", "left"
        ).select("node", F.coalesce("s", F.lit(0)).cast("long").alias("s"))
        mx = nr.agg(F.max("s").alias("mx"))
        r = (
            nr.crossJoin(F.broadcast(mx))
            .select(
                "node",
                F.expr(f"s * {scale} DIV greatest(mx, 1)")
                .cast("long")
                .alias("score"),
            )
            .localCheckpoint(eager=True)
        )
    return r


def double_sweep_diameter(edges: DataFrame, max_rounds: int = 32) -> DataFrame:
    """Double-sweep BFS diameter lower bound (Magnien, Latapy & Habib
    2009 — the standard cheap diameter estimate: BFS from an arbitrary
    seed, re-BFS from the farthest node found; the second eccentricity
    is a lower bound that is exact on trees and empirically tight on
    web-ish graphs): the exact companion to HyperBall's approximate
    neighborhood function. Seeds are pinned (global min node; farthest =
    max distance, ties to min node) so the answer is unique.

    Each BFS is the frontier-expansion round family: per round one
    src-keyed join + distinct + left_anti against visited, eagerly
    checkpointed, early exit on an empty frontier — O(diameter) rounds,
    never materializing pairs. Only 1-row seeds cross the driver. Emits
    one row: (seed1, seed2, ecc1, diameter_lb).
    """
    und = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def bfs(seed: int):
        spark = edges.sparkSession
        dist = spark.createDataFrame([(seed, 0)], "node long, d long").localCheckpoint(
            eager=True
        )
        frontier = dist.select("node")
        for r in range(1, max_rounds + 1):
            nxt = (
                und.join(frontier.select(F.col("node").alias("src")), "src")
                .select(F.col("dst").alias("node"))
                .distinct()
                .join(dist.select("node"), "node", "left_anti")
                .withColumn("d", F.lit(r).cast("long"))
                .localCheckpoint(eager=True)
            )
            if nxt.isEmpty():
                break
            dist = dist.unionByName(nxt).localCheckpoint(eager=True)
            frontier = nxt.select("node")
        return dist

    seed1 = und.agg(F.min("src").alias("m")).first()["m"]
    d1 = bfs(int(seed1))
    far_row = d1.orderBy(F.desc("d"), F.asc("node")).limit(1).first()
    seed2, ecc1 = int(far_row["node"]), int(far_row["d"])
    d2 = bfs(seed2)
    ecc2 = d2.agg(F.max("d").alias("m")).first()["m"]
    spark = edges.sparkSession
    return spark.createDataFrame(
        [(int(seed1), seed2, ecc1, int(ecc2))],
        "seed1 long, seed2 long, ecc1 long, diameter_lb long",
    )
