"""Entity canonicalization: alias edges -> canonical entity dictionary.

The reference's canonicalization is a driver-side dict of
wikiPageRedirects alias -> canonical URI (reference:
src/get_equivalent_url.py:13-35, applied in src/metrics.py:104-106 f_change).
At 10^12-turn scale the alias graph does not fit a dict: we compute connected
components over alias edges with the alternating large-star/small-star
algorithm (Kiveris et al., "Connected Components in MapReduce and Beyond",
SOCC 2014 — the same algorithm behind GraphFrames' CC), expressed purely as
DataFrame window passes.

Skew: each star round computes the per-node minimum with a window over
one exchange, so a hub entity's whole neighbor list lands in one task.
The repo's Zipf-hub soak (scripts/soak_skew.py, BENCH/BASELINE.md) still
measured these rounds faster than groupBy + self-join rounds at 1e4- and
1e5-degree hubs: a round costs per-job latency long before a hub's
partition costs CPU. Convergence is O(log^2 n) rounds even for path
graphs; each round is checkpointed to cut lineage (SURVEY.md §7.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..checkpoints import observed_checkpoint, release_checkpoint

# star rounds before the loop gives up (O(log^2 n) rounds converge far below)
MAX_ITER = 50


def _dedup(edges: DataFrame) -> DataFrame:
    return edges.filter(F.col("src") != F.col("dst")).dropDuplicates(["src", "dst"])


def _symmetrize(edges: DataFrame) -> DataFrame:
    return edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(N(u) + {u}), the minimum taken by a window over one exchange.

    Contract: `edges` arrives oriented (src > dst) and deduplicated — true
    for the loop input and every `_small_star` output — so symmetrizing
    cannot create duplicates and no dedup shuffle is needed here; the output
    may carry duplicates, which the consumer (`_small_star`) removes in the
    dedup it performs anyway."""
    sym = _symmetrize(edges)
    w = Window.partitionBy("src")
    return (
        sym.withColumn("m", F.least(F.min("dst").over(w), F.col("src")))
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges (larger -> smaller); connect all smaller neighbors + self
    to the minimum: one window pass emits (neighbor -> min) and
    (self -> min) from the same partition, deduplicated once at the end."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    w = Window.partitionBy("src")
    with_min = oriented.withColumn("m", F.min("dst").over(w))
    out = with_min.select(
        F.explode(F.array(F.col("dst"), F.col("src"))).alias("src"),
        F.col("m").alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    return _dedup(out)


def _checkpoint(edges: DataFrame) -> tuple[DataFrame, tuple]:
    """Materialize `edges` (one action, lineage cut) and return it with its
    fingerprint — row count and xor of row hashes — observed on the way."""
    edges, m = observed_checkpoint(
        edges,
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("src", "dst")).alias("h"),  # overflow-free
    )
    return edges, (m["n"], m["h"])


def precontract_edges(edges: DataFrame) -> DataFrame:
    """Per-partition union-find contraction (two-level CC).

    Each input partition runs a local union-find over its own edges inside
    one `mapInPandas` pass (Arrow batches; the iterator spans the whole
    partition, so state is per-task and bounded by partition size) and
    emits star edges (node -> local component min). Connectivity is exactly
    preserved — every input edge is represented through the local roots —
    while long in-partition paths collapse to depth 1, so the global star
    loop's round count drops from ~log(graph diameter) to ~log(number of
    partition-spanning hops). This is the standard scale move for
    high-diameter graphs (local contraction, then global iteration).
    """
    import pandas as pd

    def gen(batches):
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            for s, d in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
                if s not in parent:
                    parent[s] = s
                if d not in parent:
                    parent[d] = d
                rs, rd = find(s), find(d)
                if rs != rd:
                    # union by value: smaller id becomes the root, so the
                    # local root IS the local component min (deterministic)
                    if rs < rd:
                        parent[rd] = rs
                    else:
                        parent[rs] = rd
        rows = [(n, find(n)) for n in parent]
        yield pd.DataFrame(rows, columns=["src", "dst"])

    schema = f"src {edges.schema['src'].dataType.simpleString()}, " \
             f"dst {edges.schema['dst'].dataType.simpleString()}"
    star = edges.mapInPandas(gen, schema=schema)
    return star.filter(F.col("src") != F.col("dst"))


def connected_components(
    edges: DataFrame,
    all_nodes: DataFrame | None = None,
    precontract: bool = False,
) -> DataFrame:
    """edges(src, dst) -> (node, component) with component = min node id.

    `all_nodes(node)` optionally adds isolated nodes (component = themselves).

    `precontract=True` runs :func:`precontract_edges` first — per-partition
    union-find collapses local paths before the global loop; the right call
    for high-diameter graphs (chains) whose partitions hold whole
    components, costing one Arrow pass."""
    if precontract:
        edges = precontract_edges(edges)
    cur, sig = _checkpoint(
        _dedup(
            edges.select(
                F.greatest("src", "dst").alias("src"),
                F.least("src", "dst").alias("dst"),
            )
        )
    )
    for _ in range(MAX_ITER):
        nxt, nxt_sig = _checkpoint(_small_star(_large_star(cur)))
        # the fingerprint rides on the round's checkpoint; on a hit, confirm
        # exactly once. The hit already says both rounds hold the same number
        # of rows, so nxt ⊆ cur as multisets (nxt − cur empty) means nxt ==
        # cur: the reverse difference would find nothing and is not run.
        done = nxt_sig == sig and nxt.exceptAll(cur).limit(1).count() == 0
        release_checkpoint(cur)
        cur, sig = nxt, nxt_sig
        if done:
            break

    # after convergence edges form stars (node -> root)
    comp = cur.groupBy("src").agg(F.min("dst").alias("component")).select(
        F.col("src").alias("node"), "component"
    )
    roots = cur.select(F.col("dst").alias("node")).dropDuplicates().join(
        comp, "node", "left_anti"
    ).withColumn("component", F.col("node"))
    result = comp.unionByName(roots)

    if all_nodes is not None:
        isolated = (
            all_nodes.select("node")
            .dropDuplicates()
            .join(result, "node", "left_anti")
            .withColumn("component", F.col("node"))
        )
        result = result.unionByName(isolated)
    return result


def canonical_dictionary(edges: DataFrame, all_nodes: DataFrame | None = None) -> DataFrame:
    """alias edges -> (alias, canonical) dictionary (canonical = component min)."""
    cc = connected_components(edges, all_nodes=all_nodes)
    return cc.select(F.col("node").alias("alias"), F.col("component").alias("canonical"))


def apply_referents(df: DataFrame, referents: DataFrame, col: str) -> DataFrame:
    """Rewrite df[col] through the alias->canonical dictionary
    (reference: src/metrics.py:104-106 `f_change`): left join + coalesce.

    The dictionary side is usually small enough to broadcast; when it is not
    (web-scale alias sets), AQE skew-join handles hub keys.
    """
    ref = referents.select(
        F.col("alias").alias("__alias"), F.col("canonical").alias("__canonical")
    )
    out = df.join(
        F.broadcast(ref), df[col] == F.col("__alias"), "left"
    ).withColumn(col, F.coalesce(F.col("__canonical"), F.col(col)))
    return out.drop("__alias", "__canonical")


def incremental_components(
    prior: DataFrame,
    new_edges: DataFrame,
    emit: str = "full",
) -> DataFrame:
    """Incremental connected-components maintenance: fold a NEW batch of
    alias edges into an existing (node, component) labeling without
    recomputing CC over the full history — the daily-append concern of a
    10^12-turn canonicalization pipeline (the reference rebuilds its
    equivalence dictionary from scratch per run, src/get_equivalent_url.py;
    at web scale the history graph dwarfs every batch).

    Contract: `prior` labels components by their MIN node id (what
    :func:`connected_components` emits). The batch's endpoints are
    contracted to their prior representatives, CC runs ONLY on that
    contracted delta graph (size = batch + touched components, never the
    history), and the few components whose representative moved are
    relabeled with one broadcast map-join. Output is bit-identical to
    rerunning CC on (history ∪ batch) — pinned by property test.

    Scale shape: two passes over `prior` total — one broadcast semi-join
    to look up the batch endpoints' labels (partition-prunable when the
    prior table is bucketed by node, io/catalog.py bucketing), one
    map-only relabel against the broadcast CHANGED-component map. The
    iterative loop never sees history edges. Batch endpoints are assumed
    broadcastable (the incremental regime).

    `emit`: "full" returns the complete updated (node, component) table;
    "delta" returns ONLY the rows a MERGE INTO needs — prior rows whose
    component changed plus the new nodes — so the daily-append write is
    batch-sized, not history-sized (applying the delta over `prior` equals
    the full output; pinned by property test).
    """
    e = new_edges.select("src", "dst")
    ids = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # one history scan: labels of batch-incident OLD nodes
    lookup = prior.join(F.broadcast(ids), "node").localCheckpoint(eager=True)
    new_ids = ids.join(lookup.select("node"), "node", "left_anti")

    def _contract(df: DataFrame, side: str) -> DataFrame:
        lk = F.broadcast(
            lookup.select(
                F.col("node").alias(side), F.col("component").alias("__c")
            )
        )
        return (
            df.join(lk, side, "left")
            .withColumn(side, F.coalesce("__c", F.col(side)))
            .drop("__c")
        )

    contracted = _contract(_contract(e, "src"), "dst")
    reps = (
        contracted.select(F.col("src").alias("node"))
        .unionByName(contracted.select(F.col("dst").alias("node")))
        .distinct()
    )
    # materialized once: `changed` and `new_rows` both read it
    delta = connected_components(
        contracted.filter(F.col("src") != F.col("dst")),
        all_nodes=reps,
    ).localCheckpoint(eager=True)
    changed = delta.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("component"), F.col("component").alias("__new")
    )
    new_rows = delta.join(F.broadcast(new_ids), "node").select(
        "node", "component"
    )
    if emit == "delta":
        # upsert rows only: prior rows whose label moved (inner join against
        # the broadcast changed map — map-only over prior) + new nodes
        moved = prior.join(F.broadcast(changed), "component").select(
            "node", F.col("__new").alias("component")
        )
        return moved.unionByName(new_rows)
    relabeled = (
        prior.join(F.broadcast(changed), "component", "left")
        .select(
            "node", F.coalesce("__new", F.col("component")).alias("component")
        )
    )
    return relabeled.unionByName(new_rows)
