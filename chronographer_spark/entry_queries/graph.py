"""Graph-algorithm queries (PageRank, CC, walks, DAG DP, ...)."""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from chronographer_spark.data.transcripts import transcripts_from_events
from chronographer_spark.extraction.mentions import extract_mentions
from chronographer_spark.graph.materialize import materialize_event_graph

from ._shared import (
    FLAGSHIP_SQL,
    NEAR_DUP_CLUSTERS_SQL,
    TX_SQL,
    _t,
)

def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    words = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.floor(
            (F.size(F.array_distinct(words)) * 10000).cast("double") / F.size(words)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("distinct_ratio_x1e4"),
        F.size(words).cast("long").alias("n_tokens"),
    )

QUALITY_SQL = """
SELECT doc_id,
  CAST(floor(CAST(len(list_distinct(string_split(text, ' '))) * 10000 AS DOUBLE)
       / len(string_split(text, ' ')) + 0.5) AS BIGINT) AS distinct_ratio_x1e4,
  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
FROM documents
"""

# ---------------------------------------------------------------------------
# G7: connected components canonicalization (chain-edge fixture; expected
# canonical = min custkey per nation, trivially SQL-checkable)
# ---------------------------------------------------------------------------


def q_cc_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chronographer_spark.linking.canonicalize import connected_components

    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    edges = (
        cust.withColumn("nxt", F.lead("c_custkey").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(F.col("c_custkey").alias("src"), F.col("nxt").alias("dst"))
    )
    singletons = cust.select(F.col("c_custkey").alias("node"))
    # chain fixture = high diameter -> per-partition union-find
    # precontraction (collapses in-partition chain segments; ~2-4x measured
    # at sf0.1)
    cc = connected_components(edges, all_nodes=singletons, precontract=True)
    return cc.select("node", "component").withColumnRenamed("component", "canonical")

CC_SQL = """
SELECT c_custkey AS node, min(c_custkey) OVER (PARTITION BY c_nationkey) AS canonical
FROM customer
"""

def q_transitive_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chronographer_spark.operators.graph_algos import transitive_closure

    cust = _t(spark, sf_dir, "customer")
    # binary-tree edges on custkeys: child k -> parent k/2 (depth ~log2 n)
    edges = cust.filter(F.col("c_custkey") > 0).select(
        F.col("c_custkey").alias("child"),
        F.floor(F.col("c_custkey") / 2).cast("long").alias("parent"),
    )
    return transitive_closure(edges)

TRANSITIVE_SQL = """
WITH RECURSIVE anc AS (
  SELECT c_custkey AS child, CAST(floor(c_custkey / 2) AS BIGINT) AS ancestor
  FROM customer WHERE c_custkey > 0
  UNION
  SELECT a.child, CAST(floor(a.ancestor / 2) AS BIGINT) FROM anc a WHERE a.ancestor > 0
)
SELECT child, ancestor FROM anc
"""

def q_n_hop_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chronographer_spark.operators.graph_algos import n_hop_neighbors

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    e1 = orders.select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("o"), F.col("o_orderkey").cast("string")).alias("dst"),
    )
    e2 = li.select(
        F.concat(F.lit("o"), F.col("l_orderkey").cast("string")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("dst"),
    )
    edges = e1.unionByName(e2)
    seeds = cust.filter(F.col("c_acctbal") > 9500).select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("node")
    )
    return n_hop_neighbors(edges, seeds, hops=2)

N_HOP_SQL = """
WITH seeds AS (
  SELECT DISTINCT 'c' || CAST(c_custkey AS VARCHAR) AS node FROM customer WHERE c_acctbal > 9500
),
hop1 AS (
  SELECT DISTINCT 'o' || CAST(o_orderkey AS VARCHAR) AS node FROM orders
  WHERE 'c' || CAST(o_custkey AS VARCHAR) IN (SELECT node FROM seeds)
),
hop2 AS (
  SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS node FROM lineitem
  WHERE 'o' || CAST(l_orderkey AS VARCHAR) IN (SELECT node FROM hop1)
    AND 'p' || CAST(l_partkey AS VARCHAR) NOT IN (SELECT node FROM seeds)
)
SELECT node, 0 AS hop FROM seeds
UNION ALL
SELECT node, 1 FROM hop1 WHERE node NOT IN (SELECT node FROM seeds)
UNION ALL
SELECT node, 2 FROM hop2 WHERE node NOT IN (SELECT node FROM hop1)
"""

def q_pagerank_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over an order->customer->nation edge graph
    (every node has out-degree <= 1 here, but the operator handles general
    graphs); the oracle unrolls both iterations as CTEs — the same
    verification pattern as the 2-iteration search loop."""
    from chronographer_spark.operators.graph_algos import pagerank

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    e1 = orders.select(
        F.concat(F.lit("o"), F.col("o_orderkey").cast("string")).alias("src"),
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("dst"),
    )
    e2 = cust.select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("src"),
        F.concat(F.lit("n"), F.col("c_nationkey").cast("string")).alias("dst"),
    )
    out = pagerank(e1.unionByName(e2), damping=0.85, iterations=2)
    return out.select(
        "node",
        F.floor(F.col("rank") * 1000000 + F.lit(0.5)).cast("long").alias("rank_x1e6"),
    )

PAGERANK_SQL = """
WITH e AS (
  SELECT 'o' || CAST(o_orderkey AS VARCHAR) AS src,
         'c' || CAST(o_custkey AS VARCHAR) AS dst
  FROM orders
  UNION ALL
  SELECT 'c' || CAST(c_custkey AS VARCHAR),
         'n' || CAST(c_nationkey AS VARCHAR)
  FROM customer
),
nodes AS (
  SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
),
outdeg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
r0 AS (SELECT node, 1.0 AS r FROM nodes),
r1 AS (
  SELECT n.node, (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
           + CAST(0.85 AS DOUBLE) * coalesce(s.m, CAST(0 AS DOUBLE)) AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, sum(r0.r / o.d) AS m
    FROM e JOIN r0 ON r0.node = e.src JOIN outdeg o ON o.src = e.src
    GROUP BY e.dst) s ON s.node = n.node
),
r2 AS (
  SELECT n.node, (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
           + CAST(0.85 AS DOUBLE) * coalesce(s.m, CAST(0 AS DOUBLE)) AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, sum(r1.r / o.d) AS m
    FROM e JOIN r1 ON r1.node = e.src JOIN outdeg o ON o.src = e.src
    GROUP BY e.dst) s ON s.node = n.node
)
SELECT node, CAST(floor(r * 1000000 + 0.5) AS BIGINT) AS rank_x1e6 FROM r2
"""

def q_clustering_coef(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient (operators/graph_algos
    clustering_coefficient) over the same triangle-per-customer
    customer/nation/region membership graph as the global triangle gate:
    customers close exactly one triangle (lcc = 1e6), nation/region hubs
    get graded quotients. Exact integer arithmetic end to end — the
    oracle replays orientation, single-corner enumeration, 3-corner
    credit, and the (2·t·1e6) DIV (d·(d−1)) quotient."""
    from chronographer_spark.operators.graph_algos import clustering_coefficient

    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    cn = cust.select(
        F.col("c_custkey").alias("src"),
        (F.col("c_nationkey") + 1000000).alias("dst"),
    )
    cr = cust.join(nat, cust["c_nationkey"] == nat["n_nationkey"]).select(
        F.col("c_custkey").alias("src"),
        (F.col("n_regionkey") + 2000000).alias("dst"),
    )
    nr = nat.select(
        (F.col("n_nationkey") + 1000000).alias("src"),
        (F.col("n_regionkey") + 2000000).alias("dst"),
    )
    return clustering_coefficient(cn.unionByName(cr).unionByName(nr))

CLUSTERING_COEF_SQL = """
WITH raw AS (
  SELECT c_custkey AS s, c_nationkey + 1000000 AS t FROM customer
  UNION ALL
  SELECT c.c_custkey, n.n_regionkey + 2000000
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  UNION ALL
  SELECT n_nationkey + 1000000, n_regionkey + 2000000 FROM nation
),
e AS (
  SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
  FROM raw WHERE s <> t
),
deg AS (
  SELECT n, count(*) AS d FROM (
    SELECT a AS n FROM e UNION ALL SELECT b FROM e
  ) GROUP BY n
),
oriented AS (
  SELECT CASE WHEN lf THEN a ELSE b END AS u,
         CASE WHEN lf THEN b ELSE a END AS v,
         CASE WHEN lf THEN db ELSE da END AS dv
  FROM (
    SELECT e.a, e.b, da.d AS da, db.d AS db,
           (da.d < db.d OR (da.d = db.d AND e.a < e.b)) AS lf
    FROM e JOIN deg da ON e.a = da.n JOIN deg db ON e.b = db.n
  )
),
wedges AS (
  SELECT w1.u, w1.v AS x, w2.v AS y
  FROM oriented w1 JOIN oriented w2 ON w1.u = w2.u
  WHERE w1.dv < w2.dv OR (w1.dv = w2.dv AND w1.v < w2.v)
),
tri AS (
  SELECT w.u, w.x, w.y
  FROM wedges w JOIN oriented o ON w.x = o.u AND w.y = o.v
),
corners AS (
  SELECT n, count(*) AS t FROM (
    SELECT u AS n FROM tri UNION ALL SELECT x FROM tri
    UNION ALL SELECT y FROM tri
  ) GROUP BY n
)
SELECT deg.n AS node,
       CAST(deg.d AS BIGINT) AS degree,
       CAST(coalesce(c.t, 0) AS BIGINT) AS n_triangles,
       CAST(CASE WHEN deg.d >= 2
                 THEN (2 * coalesce(c.t, 0) * 1000000) // (deg.d * (deg.d - 1))
                 ELSE 0 END AS BIGINT) AS lcc_x1e6
FROM deg LEFT JOIN corners c ON deg.n = c.n
"""

def q_luby_mis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Luby MIS (operators/graph_algos.luby_mis, 2 rounds)
    over the symmetrized order<->customer<->nation graph: order leaves
    mostly decide in round 1 (their only neighbor is their customer),
    customer/nation hubs contend on md5 priority; some nodes stay
    undecided after 2 rounds — all three states realized. The oracle
    unrolls both rounds with the identical zero-padded (md5_32, node)
    priority strings."""
    from chronographer_spark.operators.graph_algos import luby_mis

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    e1 = orders.select(
        (F.col("o_orderkey") + 2000000).alias("src"),
        F.col("o_custkey").alias("dst"),
    )
    e2 = cust.select(
        F.col("c_custkey").alias("src"),
        (F.col("c_nationkey") + 1000000).alias("dst"),
    )
    e = e1.unionByName(e2)
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return luby_mis(sym, rounds=2).select(
        "node", "state", F.col("decided_round").cast("long").alias("decided_round")
    )

LUBY_MIS_SQL = """
WITH e0 AS (
  SELECT o_orderkey + 2000000 AS src, o_custkey AS dst FROM orders
  UNION ALL
  SELECT c_custkey AS src, c_nationkey + 1000000 AS dst FROM customer
),
e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
nodes AS (
  SELECT DISTINCT node
  FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
),
u0 AS (
  SELECT node,
         printf('%010d%019d',
                CAST(concat('0x', substr(md5(CAST(node AS VARCHAR)), 1, 8))
                     AS BIGINT),
                node) AS p
  FROM nodes
),
m1 AS (
  SELECT e.dst AS node, min(u.p) AS np
  FROM e JOIN u0 u ON e.src = u.node GROUP BY e.dst
),
w1 AS (
  SELECT u.node FROM u0 u LEFT JOIN m1 ON u.node = m1.node
  WHERE m1.np IS NULL OR u.p < m1.np
),
x1 AS (
  SELECT DISTINCT e.dst AS node FROM e JOIN w1 ON e.src = w1.node
  WHERE e.dst NOT IN (SELECT node FROM w1)
),
u1 AS (
  SELECT * FROM u0
  WHERE node NOT IN (SELECT node FROM w1)
    AND node NOT IN (SELECT node FROM x1)
),
m2 AS (
  SELECT e.dst AS node, min(u.p) AS np
  FROM e JOIN u1 u ON e.src = u.node GROUP BY e.dst
),
w2 AS (
  SELECT u.node FROM u1 u LEFT JOIN m2 ON u.node = m2.node
  WHERE m2.np IS NULL OR u.p < m2.np
),
x2 AS (
  SELECT DISTINCT e.dst AS node FROM e JOIN w2 ON e.src = w2.node
  WHERE e.dst IN (SELECT node FROM u1)
    AND e.dst NOT IN (SELECT node FROM w2)
),
u2 AS (
  SELECT * FROM u1
  WHERE node NOT IN (SELECT node FROM w2)
    AND node NOT IN (SELECT node FROM x2)
)
SELECT node, 'in' AS state, CAST(1 AS BIGINT) AS decided_round FROM w1
UNION ALL
SELECT node, 'out', CAST(1 AS BIGINT) FROM x1
UNION ALL
SELECT node, 'in', CAST(2 AS BIGINT) FROM w2
UNION ALL
SELECT node, 'out', CAST(2 AS BIGINT) FROM x2
UNION ALL
SELECT node, 'undecided', CAST(0 AS BIGINT) FROM u2
"""

def q_ppr_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (operators/graph_algos.personalized_pagerank,
    2 iterations) from seed customers c0/c1 over the SYMMETRIZED
    order<->customer<->nation graph: mass reaches the seeds' nations and
    orders in round 1, sibling customers in round 2, and the rank table
    stays sparse throughout (only the seed neighborhood, never V). The
    oracle unrolls both rounds with the same sparse full-join-on-seeds
    recurrence; ranks scaled to 1e6 like the global pagerank gates."""
    from chronographer_spark.operators.graph_algos import personalized_pagerank

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    e1 = orders.select(
        F.concat(F.lit("o"), F.col("o_orderkey").cast("string")).alias("src"),
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("dst"),
    )
    e2 = cust.select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("src"),
        F.concat(F.lit("n"), F.col("c_nationkey").cast("string")).alias("dst"),
    )
    e = e1.unionByName(e2)
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    out = personalized_pagerank(sym, seeds=["c0", "c1"], iterations=2)
    return out.select(
        "node",
        F.floor(F.col("rank") * 1000000 + F.lit(0.5)).cast("long").alias("rank_x1e6"),
    )

PPR_SEEDS_SQL = """
WITH e0 AS (
  SELECT 'o' || CAST(o_orderkey AS VARCHAR) AS src,
         'c' || CAST(o_custkey AS VARCHAR) AS dst
  FROM orders
  UNION ALL
  SELECT 'c' || CAST(c_custkey AS VARCHAR),
         'n' || CAST(c_nationkey AS VARCHAR)
  FROM customer
),
e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
outdeg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
seeds AS (SELECT 'c0' AS node, CAST(0.5 AS DOUBLE) AS p
          UNION ALL SELECT 'c1', CAST(0.5 AS DOUBLE)),
r0 AS (SELECT node, p AS rank FROM seeds),
c1 AS (
  SELECT e.dst AS node, sum(r.rank / o.d) AS m
  FROM e JOIN r0 r ON e.src = r.node JOIN outdeg o ON o.src = e.src
  GROUP BY e.dst
),
r1 AS (
  SELECT coalesce(c.node, s.node) AS node,
         (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
             * coalesce(s.p, CAST(0 AS DOUBLE))
           + CAST(0.85 AS DOUBLE) * coalesce(c.m, CAST(0 AS DOUBLE)) AS rank
  FROM c1 c FULL JOIN seeds s ON c.node = s.node
),
c2 AS (
  SELECT e.dst AS node, sum(r.rank / o.d) AS m
  FROM e JOIN r1 r ON e.src = r.node JOIN outdeg o ON o.src = e.src
  GROUP BY e.dst
),
r2 AS (
  SELECT coalesce(c.node, s.node) AS node,
         (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
             * coalesce(s.p, CAST(0 AS DOUBLE))
           + CAST(0.85 AS DOUBLE) * coalesce(c.m, CAST(0 AS DOUBLE)) AS rank
  FROM c2 c FULL JOIN seeds s ON c.node = s.node
)
SELECT node, CAST(floor(rank * 1000000 + 0.5) AS BIGINT) AS rank_x1e6 FROM r2
"""

def q_apply_referents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chronographer_spark.linking.canonicalize import apply_referents

    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey")
    referents = cust.select(
        F.col("c_custkey").alias("alias"),
        F.min("c_custkey").over(w).alias("canonical"),
    ).filter(F.col("alias") != F.col("canonical"))
    out = apply_referents(
        cust.select("c_custkey", "c_nationkey"), referents, "c_custkey"
    )
    return out.select(F.col("c_custkey").alias("canonical_key"), "c_nationkey")

APPLY_REFERENTS_SQL = """
SELECT min(c_custkey) OVER (PARTITION BY c_nationkey) AS canonical_key, c_nationkey
FROM customer
"""

def q_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-round k=3 core peel of the user<->event-type bipartite graph.
    exact_rounds pins the round count so the unrolled oracle replays it
    even if the fixpoint lands earlier."""
    from chronographer_spark.operators.graph_algos import k_core

    ev = _t(spark, sf_dir, "events")
    edges = ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("src"),
        F.concat(F.lit("t"), F.col("event_type")).alias("dst"),
    )
    return k_core(edges, k=3, max_rounds=4, exact_rounds=True)

def _k_core_rounds_sql(k: int, rounds: int) -> str:
    parts = []
    for r in range(1, rounds + 1):
        parts.append(
            f"k{r} AS (SELECT src FROM e{r-1} GROUP BY src HAVING count(*) >= {k}),\n"
            f"e{r} AS (SELECT e.src, e.dst FROM e{r-1} e\n"
            f"  JOIN k{r} a ON e.src = a.src JOIN k{r} b ON e.dst = b.src)"
        )
    return ",\n".join(parts)

K_CORE_SQL = f"""
WITH e0 AS (
  SELECT DISTINCT src, dst FROM (
    SELECT 'u' || CAST(user_id AS VARCHAR) AS src, 't' || event_type AS dst
    FROM events
    UNION ALL
    SELECT 't' || event_type, 'u' || CAST(user_id AS VARCHAR) FROM events
  )
),
{_k_core_rounds_sql(3, 4)}
SELECT src AS node, count(*) AS degree FROM e4 GROUP BY src
"""

def q_neighborhood_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor / neighborhood-Jaccard link-prediction features over
    the user<->event-type bipartite graph: user pairs sharing >= 4 event
    types (and type pairs sharing >= 4 users) — the merge-candidate ranking
    primitive for entity canonicalization."""
    from chronographer_spark.operators.graph_algos import neighborhood_overlap

    ev = _t(spark, sf_dir, "events")
    edges = ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("src"),
        F.concat(F.lit("t"), F.col("event_type")).alias("dst"),
    )
    return neighborhood_overlap(edges, min_common=4)

NEIGHBORHOOD_OVERLAP_SQL = """
WITH e0 AS (
  SELECT DISTINCT src, dst FROM (
    SELECT 'u' || CAST(user_id AS VARCHAR) AS src, 't' || event_type AS dst
    FROM events
    UNION ALL
    SELECT 't' || event_type, 'u' || CAST(user_id AS VARCHAR) FROM events
  )
),
deg AS (SELECT src, count(*) AS deg FROM e0 GROUP BY src),
w AS (
  SELECT a.src AS node_a, b.src AS node_b, count(*) AS n_common
  FROM e0 a JOIN e0 b ON a.dst = b.dst AND a.src < b.src
  GROUP BY 1, 2
  HAVING count(*) >= 4
)
SELECT w.node_a, w.node_b, w.n_common, da.deg AS deg_a, db.deg AS deg_b,
  CAST(floor(CAST(w.n_common AS DOUBLE) / (da.deg + db.deg - w.n_common)
             * 1000000 + 0.5) AS BIGINT) AS jac_x1e6
FROM w
JOIN deg da ON da.src = w.node_a
JOIN deg db ON db.src = w.node_b
"""

def q_gold_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EventKG-style gold-graph construction (reference
    eventkg_to_ng.py:28-170): an EventKG-shaped fixture — owl:sameAs
    aliases, reified actor relations, place/time/sub-event edges — built
    from orders/customer/lineitem, converted to the simplified-SEM gold
    graph for the gold event list (customer 1's orders) in one set-oriented
    plan. The reference runs 7 CONSTRUCT queries per event over the network."""
    from chronographer_spark.graph.gold import build_gold_graph

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    o_node = F.concat(F.lit("ekg:o"), F.col("o_orderkey").cast("string"))
    o_kb = F.concat(F.lit("http://dbpedia/order/"), F.col("o_orderkey").cast("string"))
    c_node = F.concat(F.lit("ekg:c"), F.col("c_custkey").cast("string"))
    c_kb = F.concat(F.lit("http://dbpedia/cust/"), F.col("c_custkey").cast("string"))
    n_node = F.concat(F.lit("ekg:n"), F.col("c_nationkey").cast("string"))
    n_kb = F.concat(F.lit("http://dbpedia/nation/"), F.col("c_nationkey").cast("string"))
    l_node = F.concat(
        F.lit("ekg:l"), F.col("l_orderkey").cast("string"),
        F.lit("-"), F.col("l_linenumber").cast("string"),
    )
    l_kb = F.concat(
        F.lit("http://dbpedia/line/"), F.col("l_orderkey").cast("string"),
        F.lit("-"), F.col("l_linenumber").cast("string"),
    )

    def tr(s, p, o):
        return F.struct(s.alias("subject"), F.lit(p).alias("predicate"), o.alias("object"))

    oc = orders.join(
        cust, orders["o_custkey"] == cust["c_custkey"]
    )
    kg_orders = oc.select(
        F.explode(
            F.array(
                tr(o_node, "owl:sameAs", o_kb),
                tr(o_node, "sem:hasPlace", n_node),
                tr(o_node, "sem:hasBeginTimeStamp", F.date_format("o_orderdate", "yyyy-MM-dd")),
                tr(F.concat(F.lit("ekg:rel"), F.col("o_orderkey").cast("string")), "rdf:type", F.lit("eventkg:Relation")),
                tr(F.concat(F.lit("ekg:rel"), F.col("o_orderkey").cast("string")), "rdf:subject", o_node),
                tr(F.concat(F.lit("ekg:rel"), F.col("o_orderkey").cast("string")), "rdf:object", c_node),
            )
        ).alias("t")
    ).select("t.subject", "t.predicate", "t.object")
    kg_cust = cust.select(
        F.explode(
            F.array(
                tr(c_node, "owl:sameAs", c_kb),
                tr(c_node, "rdf:type", F.lit("sem:Actor")),
                tr(n_node, "owl:sameAs", n_kb),
            )
        ).alias("t")
    ).select("t.subject", "t.predicate", "t.object")
    kg_lines = li.select(
        F.explode(
            F.array(
                tr(l_node, "owl:sameAs", l_kb),
                tr(
                    F.concat(F.lit("ekg:o"), F.col("l_orderkey").cast("string")),
                    "sem:hasSubEvent",
                    l_node,
                ),
            )
        ).alias("t")
    ).select("t.subject", "t.predicate", "t.object")
    # materialize the synthetic EventKG once: build_gold_graph's seven
    # templates each filter this union, and a lazy plan would re-run the
    # three explode branches per pattern (measured 87 source scans);
    # production reads a stored predicate-partitioned KG table instead
    kg = (
        kg_orders.unionByName(kg_cust).unionByName(kg_lines)
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )

    events = orders.filter(F.col("o_custkey") == 1).select(o_kb.alias("event"))
    return build_gold_graph(kg, events, filter_str="dbpedia")

GOLD_GRAPH_SQL = """
WITH ev AS (
  SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS d
  FROM orders WHERE o_custkey = 1
),
nk AS (SELECT c_nationkey FROM customer WHERE c_custkey = 1)
SELECT DISTINCT subject, predicate, object FROM (
  SELECT 'http://dbpedia/order/' || CAST(o_orderkey AS VARCHAR) AS subject,
         'rdf:type' AS predicate, 'sem:Event' AS object FROM ev
  UNION ALL
  SELECT 'http://dbpedia/order/' || CAST(o_orderkey AS VARCHAR),
         'sem:hasPlace',
         'http://dbpedia/nation/' || CAST((SELECT c_nationkey FROM nk) AS VARCHAR)
  FROM ev
  UNION ALL
  SELECT 'http://dbpedia/order/' || CAST(o_orderkey AS VARCHAR),
         'sem:hasActor', 'http://dbpedia/cust/1' FROM ev
  UNION ALL
  SELECT 'http://dbpedia/order/' || CAST(o_orderkey AS VARCHAR),
         'sem:hasBeginTimeStamp', d FROM ev
  UNION ALL
  SELECT 'http://dbpedia/line/' || CAST(l.l_orderkey AS VARCHAR) || '-'
           || CAST(l.l_linenumber AS VARCHAR),
         'sem:subEventOf',
         'http://dbpedia/order/' || CAST(l.l_orderkey AS VARCHAR)
  FROM lineitem l JOIN ev ON l.l_orderkey = ev.o_orderkey
)
"""

def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-dedup flow: MinHash-LSH candidates -> exact
    Jaccard >= 0.6 -> connected components -> one canonical doc per
    near-duplicate cluster. Composes the dedup and canonicalization
    subsystems exactly as a production training-data pipeline does."""
    from chronographer_spark.linking.canonicalize import connected_components
    from chronographer_spark.operators.dedup import minhash_dedup

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_dedup(docs, threshold=0.6, num_hashes=8, bands=2, shingle_n=1)
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    nodes = docs.select(F.col("doc_id").alias("node"))
    cc = connected_components(edges, all_nodes=nodes)
    return cc.select(F.col("node").alias("doc_id"), F.col("component").alias("cluster"))

def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count (operators/graph_algos.py triangle_count,
    degree-ordered node-iterator++) over the customer/nation/region
    membership graph: edges customer-nation, customer-region, nation-region
    close one triangle per customer, and the nation/region hubs (degree ~
    customers/25 vs 2) are exactly the skew the orientation neutralizes —
    wedges generate at the degree-2 customers, not the hubs."""
    from chronographer_spark.operators.graph_algos import triangle_count

    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    cn = cust.select(
        F.col("c_custkey").alias("src"),
        (F.col("c_nationkey") + 1000000).alias("dst"),
    )
    cr = (
        cust.join(nat, cust["c_nationkey"] == nat["n_nationkey"])
        .select(
            F.col("c_custkey").alias("src"),
            (F.col("n_regionkey") + 2000000).alias("dst"),
        )
    )
    nr = nat.select(
        (F.col("n_nationkey") + 1000000).alias("src"),
        (F.col("n_regionkey") + 2000000).alias("dst"),
    )
    edges = cn.unionByName(cr).unionByName(nr)
    return triangle_count(edges)

TRIANGLE_SQL = """
WITH raw AS (
  SELECT c_custkey AS s, c_nationkey + 1000000 AS t FROM customer
  UNION ALL
  SELECT c_custkey, n_regionkey + 2000000
  FROM customer JOIN nation ON n_nationkey = c_nationkey
  UNION ALL
  SELECT n_nationkey + 1000000, n_regionkey + 2000000 FROM nation
),
e AS (
  SELECT DISTINCT least(s, t) AS u, greatest(s, t) AS v FROM raw WHERE s <> t
)
SELECT CAST(count(*) AS BIGINT) AS n_triangles
FROM e ab
JOIN e ac ON ac.u = ab.u AND ac.v > ab.v
JOIN e bc ON bc.u = ab.v AND bc.v = ac.v
"""

def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label propagation (operators/graph_algos
    label_propagation, 2 rounds) over the customer-nation membership graph:
    nation hubs are the skewed high-degree side. Round 1 gives every
    customer its hub's id and every hub its smallest customer key (all-tie
    vote); round 2 settles customers on that smallest key and hubs back on
    their own id. The oracle unrolls both rounds with the same
    most-frequent-then-smallest tie-break."""
    from chronographer_spark.operators.graph_algos import label_propagation

    cust = _t(spark, sf_dir, "customer")
    edges = cust.select(
        F.col("c_custkey").alias("src"),
        (F.col("c_nationkey") + 1000000).alias("dst"),
    )
    return label_propagation(edges, iterations=2)

LABEL_PROP_SQL = """
WITH e AS (
  SELECT c_custkey AS src, c_nationkey + 1000000 AS dst FROM customer
),
sym AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e),
nodes AS (SELECT DISTINCT src AS node FROM sym),
l0 AS (SELECT node, node AS label FROM nodes),
v1 AS (
  SELECT s.dst AS node, l.label, count(*) AS c
  FROM sym s JOIN l0 l ON s.src = l.node GROUP BY 1, 2
),
p1 AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC)
             AS rn
    FROM v1) WHERE rn = 1
),
l1 AS (
  SELECT n.node, coalesce(p.label, n.node) AS label
  FROM nodes n LEFT JOIN p1 p USING (node)
),
v2 AS (
  SELECT s.dst AS node, l.label, count(*) AS c
  FROM sym s JOIN l1 l ON s.src = l.node GROUP BY 1, 2
),
p2 AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC)
             AS rn
    FROM v2) WHERE rn = 1
)
SELECT n.node, coalesce(p.label, n.node) AS label
FROM nodes n LEFT JOIN p2 p USING (node)
"""

def q_hyperball(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall neighborhood function (operators/graph_algos.hyperball,
    2 rounds) over the symmetrized customer-nation membership graph: each
    customer's 2-hop ball covers its whole nation community (~n/25 nodes
    at any sf — squarely in HLL's linear-counting band), each nation hub
    saturates at 1 hop. Emits per-node ball-size estimates b0/b1/b2 plus
    an integer harmonic-centrality proxy Σ_t max(b_t - b_{t-1}, 0)·1e6
    DIV t (deltas clamped: the raw->linear estimator switch is not
    strictly monotone). The oracle replays registers, propagation, and
    both estimator branches bit-for-bit."""
    from chronographer_spark.operators.graph_algos import hyperball

    cust = _t(spark, sf_dir, "customer")
    e = cust.select(
        F.col("c_custkey").alias("src"),
        (F.col("c_nationkey") + 1000000).alias("dst"),
    )
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    est = hyperball(sym, rounds=2)
    wide = est.groupBy("node").agg(
        F.max(F.when(F.col("t") == 0, F.col("estimate"))).alias("b0"),
        F.max(F.when(F.col("t") == 1, F.col("estimate"))).alias("b1"),
        F.max(F.when(F.col("t") == 2, F.col("estimate"))).alias("b2"),
    )
    return wide.select(
        "node",
        "b0",
        "b1",
        "b2",
        (
            F.greatest(F.col("b1") - F.col("b0"), F.lit(0)) * 1000000
            + F.expr(
                "(greatest(b2 - b1, CAST(0 AS BIGINT)) * 1000000) DIV 2"
            )
        ).cast("long").alias("harmonic_x1e6"),
    )

HYPERBALL_SQL = """
WITH e AS (
  SELECT c_custkey AS src, c_nationkey + 1000000 AS dst FROM customer
),
sym AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e),
nodes AS (SELECT DISTINCT src AS node FROM sym),
h AS (
  SELECT node,
    CAST(concat('0x', substr(md5(CAST(node AS VARCHAR)), 1, 8)) AS BIGINT)
      AS h
  FROM nodes
),
regs0 AS (
  SELECT node, h & 63 AS bucket,
    CASE WHEN (h >> 6) = 0 THEN 27
         ELSE bit_count(((h >> 6) & -(h >> 6)) - 1) + 1 END AS rho
  FROM h
),
regs1 AS (
  SELECT node, bucket, max(rho) AS rho FROM (
    SELECT node, bucket, rho FROM regs0
    UNION ALL
    SELECT s.src AS node, r.bucket, r.rho
    FROM sym s JOIN regs0 r ON s.dst = r.node
  ) GROUP BY 1, 2
),
regs2 AS (
  SELECT node, bucket, max(rho) AS rho FROM (
    SELECT node, bucket, rho FROM regs1
    UNION ALL
    SELECT s.src AS node, r.bucket, r.rho
    FROM sym s JOIN regs1 r ON s.dst = r.node
  ) GROUP BY 1, 2
),
agg0 AS (
  SELECT node,
         0.709 * 64 * 64
           / (sum(pow(2.0, -rho)) + (64 - count(*)) * 1.0) AS raw,
         64 - count(*) AS v
  FROM regs0 GROUP BY node
),
agg1 AS (
  SELECT node,
         0.709 * 64 * 64
           / (sum(pow(2.0, -rho)) + (64 - count(*)) * 1.0) AS raw,
         64 - count(*) AS v
  FROM regs1 GROUP BY node
),
agg2 AS (
  SELECT node,
         0.709 * 64 * 64
           / (sum(pow(2.0, -rho)) + (64 - count(*)) * 1.0) AS raw,
         64 - count(*) AS v
  FROM regs2 GROUP BY node
),
est0 AS (
  SELECT node, CAST(CASE WHEN raw <= 160.0 AND v > 0
            THEN floor(64.0 * ln(64.0 / v) + 0.5)
            ELSE floor(raw + 0.5) END AS BIGINT) AS b0
  FROM agg0
),
est1 AS (
  SELECT node, CAST(CASE WHEN raw <= 160.0 AND v > 0
            THEN floor(64.0 * ln(64.0 / v) + 0.5)
            ELSE floor(raw + 0.5) END AS BIGINT) AS b1
  FROM agg1
),
est2 AS (
  SELECT node, CAST(CASE WHEN raw <= 160.0 AND v > 0
            THEN floor(64.0 * ln(64.0 / v) + 0.5)
            ELSE floor(raw + 0.5) END AS BIGINT) AS b2
  FROM agg2
)
SELECT node, b0, b1, b2,
  CAST(greatest(b1 - b0, 0) * 1000000
       + (greatest(b2 - b1, 0) * 1000000) // 2 AS BIGINT) AS harmonic_x1e6
FROM est0 JOIN est1 USING (node) JOIN est2 USING (node)
"""

def q_bfs_landmarks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark BFS distances (operators/graph_algos.bfs_distances, 3
    rounds) over the symmetrized customer->nation->region membership
    chain from landmark customers 0 and 1: own nation at 1, region at 2,
    sibling nations at 3 — all four distance values realized. The oracle
    unrolls three min-propagation rounds (provably equal to the frontier
    formulation for unweighted BFS: first discovery = final distance)."""
    from chronographer_spark.operators.graph_algos import bfs_distances

    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    cn = cust.select(
        F.col("c_custkey").alias("src"),
        (F.col("c_nationkey") + 1000000).alias("dst"),
    )
    nr = nat.select(
        (F.col("n_nationkey") + 1000000).alias("src"),
        (F.col("n_regionkey") + 2000000).alias("dst"),
    )
    e = cn.unionByName(nr)
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return bfs_distances(sym, landmarks=[0, 1], rounds=3).select(
        "node", "landmark", F.col("dist").cast("long").alias("dist")
    )

BFS_LANDMARKS_SQL = """
WITH cn AS (
  SELECT c_custkey AS src, c_nationkey + 1000000 AS dst FROM customer
),
nr AS (
  SELECT n_nationkey + 1000000 AS src, n_regionkey + 2000000 AS dst
  FROM nation
),
e AS (SELECT * FROM cn UNION ALL SELECT * FROM nr),
sym AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e),
d0 AS (
  SELECT 0 AS node, 0 AS landmark, 0 AS dist
  UNION ALL SELECT 1, 1, 0
),
d1 AS (
  SELECT node, landmark, min(dist) AS dist FROM (
    SELECT node, landmark, dist FROM d0
    UNION ALL
    SELECT s.dst AS node, d.landmark, d.dist + 1
    FROM sym s JOIN d0 d ON s.src = d.node
  ) GROUP BY 1, 2
),
d2 AS (
  SELECT node, landmark, min(dist) AS dist FROM (
    SELECT node, landmark, dist FROM d1
    UNION ALL
    SELECT s.dst AS node, d.landmark, d.dist + 1
    FROM sym s JOIN d1 d ON s.src = d.node
  ) GROUP BY 1, 2
),
d3 AS (
  SELECT node, landmark, min(dist) AS dist FROM (
    SELECT node, landmark, dist FROM d2
    UNION ALL
    SELECT s.dst AS node, d.landmark, d.dist + 1
    FROM sym s JOIN d2 d ON s.src = d.node
  ) GROUP BY 1, 2
)
SELECT node, landmark, CAST(dist AS BIGINT) AS dist FROM d3
"""

def q_k_truss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss edge peeling (operators/graph_algos.k_truss, k=3, one
    exact peel round) over the triangle-per-customer c-n-r graph plus
    order->customer chaff edges: the chaff sits in zero triangles and is
    peeled in round 1; every membership edge survives with its support
    recomputed on the survivor set. The oracle replays the oriented
    support pass twice (peel + final readout)."""
    from chronographer_spark.operators.graph_algos import k_truss

    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    cn = cust.select(
        F.col("c_custkey").alias("src"),
        (F.col("c_nationkey") + 1000000).alias("dst"),
    )
    cr = cust.join(nat, cust["c_nationkey"] == nat["n_nationkey"]).select(
        F.col("c_custkey").alias("src"),
        (F.col("n_regionkey") + 2000000).alias("dst"),
    )
    nr = nat.select(
        (F.col("n_nationkey") + 1000000).alias("src"),
        (F.col("n_regionkey") + 2000000).alias("dst"),
    )
    oc = orders.select(
        (F.col("o_orderkey") + 3000000).alias("src"),
        F.col("o_custkey").alias("dst"),
    )
    e = cn.unionByName(cr).unionByName(nr).unionByName(oc)
    return k_truss(e, k=3, max_rounds=1, exact_rounds=True)

def _truss_support_sql(src: str, p: str) -> str:
    """One oriented triangle-support pass as SQL CTEs: {p}sup(a,b,support)
    over canonical edge table `src` — the same pipeline the Spark
    _edge_support runs, templated so the peel oracle can apply it twice."""
    return f"""{p}deg AS (
  SELECT n, count(*) AS d FROM (
    SELECT a AS n FROM {src} UNION ALL SELECT b FROM {src}
  ) GROUP BY n
),
{p}o AS (
  SELECT CASE WHEN lf THEN a ELSE b END AS u,
         CASE WHEN lf THEN b ELSE a END AS v,
         CASE WHEN lf THEN db ELSE da END AS dv
  FROM (
    SELECT e.a, e.b, da.d AS da, db.d AS db,
           (da.d < db.d OR (da.d = db.d AND e.a < e.b)) AS lf
    FROM {src} e JOIN {p}deg da ON e.a = da.n JOIN {p}deg db ON e.b = db.n
  )
),
{p}tri AS (
  SELECT w1.u, w1.v AS x, w2.v AS y
  FROM {p}o w1 JOIN {p}o w2 ON w1.u = w2.u
  WHERE (w1.dv < w2.dv OR (w1.dv = w2.dv AND w1.v < w2.v))
    AND EXISTS (SELECT 1 FROM {p}o o WHERE o.u = w1.v AND o.v = w2.v)
),
{p}credit AS (
  SELECT a, b, count(*) AS support FROM (
    SELECT least(u, x) AS a, greatest(u, x) AS b FROM {p}tri
    UNION ALL SELECT least(u, y), greatest(u, y) FROM {p}tri
    UNION ALL SELECT least(x, y), greatest(x, y) FROM {p}tri
  ) GROUP BY a, b
),
{p}sup AS (
  SELECT e.a, e.b, CAST(coalesce(c.support, 0) AS BIGINT) AS support
  FROM {src} e LEFT JOIN {p}credit c ON e.a = c.a AND e.b = c.b
)"""

KTRUSS_SQL = f"""
WITH raw AS (
  SELECT c_custkey AS s, c_nationkey + 1000000 AS t FROM customer
  UNION ALL
  SELECT c.c_custkey, n.n_regionkey + 2000000
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  UNION ALL
  SELECT n_nationkey + 1000000, n_regionkey + 2000000 FROM nation
  UNION ALL
  SELECT o_orderkey + 3000000, o_custkey FROM orders
),
e0 AS (
  SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
  FROM raw WHERE s <> t
),
{_truss_support_sql("e0", "s0")},
e1 AS (SELECT a, b FROM s0sup WHERE support >= 1),
{_truss_support_sql("e1", "s1")}
SELECT a, b, support FROM s1sup
"""

def q_neighborhood_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph neighborhood function + effective-diameter certificate from
    hyperball (the ANF use Boldi & Vigna built HyperBall for): N(t) =
    Σ_v |B(v,t)| summed over the same per-node HLL estimates the
    hyperball_balls gate pins, plus reach_frac_x1e6 = N(t)·1e6 DIV N(2)
    — the effective diameter is the first t whose fraction clears 90%.
    Pure integer aggregation over the register estimates; the oracle
    replays the full register pipeline then the same sums."""
    from chronographer_spark.operators.graph_algos import hyperball

    cust = _t(spark, sf_dir, "customer")
    e = cust.select(
        F.col("c_custkey").alias("src"),
        (F.col("c_nationkey") + 1000000).alias("dst"),
    )
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    est = hyperball(sym, rounds=2)
    nf = est.groupBy("t").agg(F.sum("estimate").alias("n_reach"))
    total = nf.agg(F.max(F.when(F.col("t") == 2, F.col("n_reach"))).alias("nt"))
    return nf.crossJoin(total).select(
        F.col("t").cast("long").alias("t"),
        F.col("n_reach").cast("long").alias("n_reach"),
        F.expr("(n_reach * 1000000) DIV nt").cast("long").alias("reach_frac_x1e6"),
    )

NEIGHBORHOOD_FN_SQL = (
    HYPERBALL_SQL.replace(
        """SELECT node, b0, b1, b2,
  CAST(greatest(b1 - b0, 0) * 1000000
       + (greatest(b2 - b1, 0) * 1000000) // 2 AS BIGINT) AS harmonic_x1e6
FROM est0 JOIN est1 USING (node) JOIN est2 USING (node)""",
        """, nf AS (
  SELECT 0 AS t, CAST(sum(b0) AS BIGINT) AS n_reach FROM est0
  UNION ALL
  SELECT 1, CAST(sum(b1) AS BIGINT) FROM est1
  UNION ALL
  SELECT 2, CAST(sum(b2) AS BIGINT) FROM est2
)
SELECT CAST(t AS BIGINT) AS t, n_reach,
       CAST((n_reach * 1000000) // (SELECT n_reach FROM nf WHERE t = 2)
            AS BIGINT) AS reach_frac_x1e6
FROM nf""",
    )
)

def q_pagerank_dangling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank with dangling-mass redistribution, 2 iterations, over the
    same order->customer->nation edge graph as `pagerank_2iter`. Nation
    nodes are sinks, so the dangling share is nonzero every round; total
    rank is conserved at N. The oracle unrolls both iterations with the
    per-round sink-mass CTE."""
    from chronographer_spark.operators.graph_algos import pagerank

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    e1 = orders.select(
        F.concat(F.lit("o"), F.col("o_orderkey").cast("string")).alias("src"),
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("dst"),
    )
    e2 = cust.select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("src"),
        F.concat(F.lit("n"), F.col("c_nationkey").cast("string")).alias("dst"),
    )
    out = pagerank(e1.unionByName(e2), damping=0.85, iterations=2, dangling=True)
    return out.select(
        "node",
        F.floor(F.col("rank") * 1000000 + F.lit(0.5)).cast("long").alias("rank_x1e6"),
    )

PAGERANK_DANGLING_SQL = """
WITH e AS (
  SELECT 'o' || CAST(o_orderkey AS VARCHAR) AS src,
         'c' || CAST(o_custkey AS VARCHAR) AS dst
  FROM orders
  UNION ALL
  SELECT 'c' || CAST(c_custkey AS VARCHAR),
         'n' || CAST(c_nationkey AS VARCHAR)
  FROM customer
),
nodes AS (
  SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
),
cnt AS (SELECT count(*) AS n FROM nodes),
outdeg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
r0 AS (SELECT node, 1.0 AS r FROM nodes),
d0 AS (
  SELECT coalesce(sum(r), 0) / (SELECT n FROM cnt) AS share
  FROM r0 WHERE node NOT IN (SELECT src FROM e)
),
r1 AS (
  SELECT n.node, (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
           + CAST(0.85 AS DOUBLE)
             * (coalesce(s.m, CAST(0 AS DOUBLE)) + (SELECT share FROM d0)) AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, sum(r0.r / o.d) AS m
    FROM e JOIN r0 ON r0.node = e.src JOIN outdeg o ON o.src = e.src
    GROUP BY e.dst) s ON s.node = n.node
),
d1 AS (
  SELECT coalesce(sum(r), 0) / (SELECT n FROM cnt) AS share
  FROM r1 WHERE node NOT IN (SELECT src FROM e)
),
r2 AS (
  SELECT n.node, (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
           + CAST(0.85 AS DOUBLE)
             * (coalesce(s.m, CAST(0 AS DOUBLE)) + (SELECT share FROM d1)) AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, sum(r1.r / o.d) AS m
    FROM e JOIN r1 ON r1.node = e.src JOIN outdeg o ON o.src = e.src
    GROUP BY e.dst) s ON s.node = n.node
)
SELECT node, CAST(floor(r * 1000000 + 0.5) AS BIGINT) AS rank_x1e6 FROM r2
"""

# ---------------------------------------------------------------------------
# Q: deterministic random walks (graph-embedding sampling stage)
# ---------------------------------------------------------------------------


def q_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-step hash-seeded walks from every user node over the symmetrized
    user<->event_type bipartite graph (operators/graph_algos.random_walks).
    The event-type side is a handful of hub nodes — exactly the skew shape
    the arg-min's map-side combine is there for."""
    from chronographer_spark.operators.graph_algos import random_walks

    ev = _t(spark, sf_dir, "events")
    u2t = ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("src"),
        F.concat(F.lit("t"), F.col("event_type")).alias("dst"),
    ).distinct()
    edges = u2t.unionByName(
        u2t.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    starts = u2t.select(F.col("src").alias("node")).distinct()
    return random_walks(edges, n_steps=3, starts=starts)

RANDOM_WALKS_SQL = """
WITH ue AS (
  SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS u, 't' || event_type AS t
  FROM events
),
e AS (SELECT u AS src, t AS dst FROM ue UNION ALL SELECT t AS src, u AS dst FROM ue),
nb AS (SELECT DISTINCT src, dst FROM e),
idx AS (
  SELECT src, dst,
         row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS i
  FROM nb
),
dg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM nb GROUP BY src),
s0 AS (SELECT u AS walk_id, u AS cur FROM (SELECT DISTINCT u FROM ue)),
s1 AS (
  SELECT f.walk_id, x.dst AS cur
  FROM s0 f JOIN dg d ON f.cur = d.src
  JOIN idx x ON x.src = f.cur
   AND x.i = CAST(concat('0x', substr(md5('walk|' || f.walk_id || '|1|' || f.cur), 1, 8)) AS BIGINT) % d.deg
),
s2 AS (
  SELECT f.walk_id, x.dst AS cur
  FROM s1 f JOIN dg d ON f.cur = d.src
  JOIN idx x ON x.src = f.cur
   AND x.i = CAST(concat('0x', substr(md5('walk|' || f.walk_id || '|2|' || f.cur), 1, 8)) AS BIGINT) % d.deg
),
s3 AS (
  SELECT f.walk_id, x.dst AS cur
  FROM s2 f JOIN dg d ON f.cur = d.src
  JOIN idx x ON x.src = f.cur
   AND x.i = CAST(concat('0x', substr(md5('walk|' || f.walk_id || '|3|' || f.cur), 1, 8)) AS BIGINT) % d.deg
)
SELECT walk_id, CAST(0 AS INT) AS step, cur AS node FROM s0
UNION ALL SELECT walk_id, CAST(1 AS INT) AS step, cur AS node FROM s1
UNION ALL SELECT walk_id, CAST(2 AS INT) AS step, cur AS node FROM s2
UNION ALL SELECT walk_id, CAST(3 AS INT) AS step, cur AS node FROM s3
"""

# ---------------------------------------------------------------------------
# Q: walk skip-grams (embedding training pairs from the walk corpus)
# ---------------------------------------------------------------------------


def q_walk_skipgrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chronographer_spark.operators.graph_algos import walk_skipgrams

    return walk_skipgrams(q_random_walks(spark, sf_dir), window=2)

WALK_SKIPGRAMS_SQL = f"""
WITH walks AS ({RANDOM_WALKS_SQL})
SELECT a.node AS center, b.node AS context, CAST(count(*) AS BIGINT) AS n_pairs
FROM walks a JOIN walks b
  ON a.walk_id = b.walk_id
 AND abs(a.step - b.step) <= 2 AND a.step <> b.step
GROUP BY center, context
"""

# ---------------------------------------------------------------------------
# Q: negative sampling (word2vec unigram-table draws over the skip-grams)
# ---------------------------------------------------------------------------


def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5 negatives per skip-gram pair from the 3/4-power-smoothed context
    distribution via the exact word2vec unigram-table pick (operators/
    graph_algos.negative_samples); n^0.75 = floor(sqrt(sqrt(n^3))) is
    IEEE-portable, every other step is integer, so DuckDB replays the
    identical table and draws."""
    from chronographer_spark.operators.graph_algos import negative_samples

    return negative_samples(
        q_walk_skipgrams(spark, sf_dir), k=5, target_slots=1 << 16
    )

NEGATIVE_SAMPLES_SQL = f"""
WITH pairs AS ({WALK_SKIPGRAMS_SQL}),
vocab AS (
  SELECT context AS node, CAST(sum(n_pairs) AS BIGINT) AS n
  FROM pairs GROUP BY context
),
vw AS (
  SELECT node,
         greatest(CAST(1 AS BIGINT),
                  CAST(floor(sqrt(sqrt(CAST(n AS DOUBLE) * n * n))) AS BIGINT)) AS w
  FROM vocab
),
tot AS (SELECT CAST(sum(w) AS BIGINT) AS total_w FROM vw),
vs AS (
  SELECT node,
         greatest(CAST(1 AS BIGINT), (w * CAST(65536 AS BIGINT)) // total_w) AS slots
  FROM vw, tot
),
spans AS (
  SELECT node, slots,
         CAST(coalesce(sum(slots) OVER (
           ORDER BY node ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS start
  FROM vs
),
slot_table AS (
  SELECT node AS negative,
         start + unnest(generate_series(CAST(0 AS BIGINT), slots - 1)) AS slot
  FROM spans
),
tott AS (SELECT CAST(count(*) AS BIGINT) AS total_t FROM slot_table),
draws AS (
  SELECT p.center, p.context, CAST(j.j AS INT) AS neg_idx,
         CAST(concat('0x', substr(md5(
           'neg|' || p.center || '|' || p.context || '|' || CAST(j.j AS VARCHAR)
         ), 1, 8)) AS BIGINT) % t.total_t AS slot
  FROM pairs p, (SELECT unnest(generate_series(1, 5)) AS j) j, tott t
)
SELECT d.center, d.context, d.neg_idx, s.negative
FROM draws d JOIN slot_table s ON s.slot = d.slot
WHERE s.negative <> d.center AND s.negative <> d.context
"""

# ---------------------------------------------------------------------------
# Q: metapath census + degree histogram (KG schema/skew profiling)
# ---------------------------------------------------------------------------


def q_metapath_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered predicate-pair path census over the flagship event graph
    (operators/graph_algos.metapath_counts) — counted by the degree-product
    identity, never a wedge join; the oracle replays the same algebra."""
    from chronographer_spark.graph.materialize import build_event_graph
    from chronographer_spark.operators.graph_algos import metapath_counts

    tx = transcripts_from_events(spark, sf_dir)
    return metapath_counts(build_event_graph(tx))

METAPATH_SQL = (
    "WITH g AS (" + FLAGSHIP_SQL + ")\n"
    """, ind AS (
  SELECT object AS mid, predicate AS p1, CAST(count(*) AS BIGINT) AS d_in
  FROM g GROUP BY object, predicate
),
outd AS (
  SELECT subject AS mid, predicate AS p2, CAST(count(*) AS BIGINT) AS d_out
  FROM g GROUP BY subject, predicate
)
SELECT i.p1, o.p2, CAST(sum(i.d_in * o.d_out) AS BIGINT) AS n_paths
FROM ind i JOIN outd o ON i.mid = o.mid
GROUP BY i.p1, o.p2
"""
)

def q_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed in/out-degree distribution of the flagship graph
    (operators/graph_algos.degree_histogram) — the skew report; bucket is
    bit-length-minus-one, pure integer in both engines."""
    from chronographer_spark.graph.materialize import build_event_graph
    from chronographer_spark.operators.graph_algos import degree_histogram

    tx = transcripts_from_events(spark, sf_dir)
    g = build_event_graph(tx)
    return degree_histogram(g, src_col="subject", dst_col="object")

DEGREE_HIST_SQL = (
    "WITH g AS (" + FLAGSHIP_SQL + ")\n"
    """, outdeg AS (SELECT subject AS node, count(*) AS deg FROM g GROUP BY subject),
indeg AS (SELECT object AS node, count(*) AS deg FROM g GROUP BY object)
SELECT side, bucket, CAST(count(*) AS BIGINT) AS n_nodes FROM (
  SELECT 'out' AS side, CAST(length(bin(deg)) - 1 AS INT) AS bucket FROM outdeg
  UNION ALL
  SELECT 'in' AS side, CAST(length(bin(deg)) - 1 AS INT) AS bucket FROM indeg
) GROUP BY side, bucket
"""
)

# ---------------------------------------------------------------------------
# Q: event coreference across conversations (canonical node + support)
# ---------------------------------------------------------------------------


def q_event_coreference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge event mentions that agree on (type, value, day) across ALL
    conversations into one canonical event node — the cross-transcript
    event-coreference step of KG construction (within-corpus referent
    canonicalization is apply_referents; this is its event-level twin).
    Canonical id = lexicographically first (conv, turn) occurrence; the
    min and both counts ride one map-side-combinable groupBy keyed by the
    event signature."""
    tx = transcripts_from_events(spark, sf_dir)
    sig = tx.select(
        F.concat(
            F.regexp_extract("text", r"event ([a-z]+) with", 1),
            F.lit("|"),
            F.regexp_extract("text", r"value (\d+) recorded", 1),
            F.lit("|"),
            F.regexp_extract("text", r"(\d{4}-\d{2}-\d{2})", 1),
        ).alias("event_sig"),
        "conv_id",
        "turn_idx",
    )
    return sig.groupBy("event_sig").agg(
        F.min(F.struct("conv_id", "turn_idx")).alias("c"),
        F.count(F.lit(1)).alias("n_mentions"),
        F.countDistinct("conv_id").alias("n_convs"),
    ).select(
        "event_sig",
        F.col("c.conv_id").alias("canonical_conv"),
        F.col("c.turn_idx").alias("canonical_turn"),
        "n_mentions",
        "n_convs",
    )

EVENT_COREF_SQL = f"""
{TX_SQL},
sig AS (
  SELECT regexp_extract(text, 'event ([a-z]+) with', 1) || '|'
           || regexp_extract(text, 'value (\\d+) recorded', 1) || '|'
           || regexp_extract(text, '(\\d{{4}}-\\d{{2}}-\\d{{2}})', 1) AS event_sig,
         conv_id, turn_idx
  FROM tx
)
SELECT event_sig,
       min({{'conv_id': conv_id, 'turn_idx': turn_idx}})['conv_id'] AS canonical_conv,
       min({{'conv_id': conv_id, 'turn_idx': turn_idx}})['turn_idx'] AS canonical_turn,
       CAST(count(*) AS BIGINT) AS n_mentions,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs
FROM sig GROUP BY event_sig
"""

# ---------------------------------------------------------------------------
# Q: community shape stats over the label-propagation labeling
# ---------------------------------------------------------------------------


def q_community_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chronographer_spark.operators.graph_algos import community_stats, label_propagation

    cust = _t(spark, sf_dir, "customer")
    edges = cust.select(
        F.col("c_custkey").alias("src"),
        (F.col("c_nationkey") + 1000000).alias("dst"),
    )
    return community_stats(edges, label_propagation(edges, iterations=2))

COMMUNITY_STATS_SQL = (
    "WITH lab AS ("
    + LABEL_PROP_SQL
    + """),
e AS (
  SELECT c_custkey AS src, c_nationkey + 1000000 AS dst FROM customer
),
j AS (
  SELECT e.src, e.dst, a.label AS ls, b.label AS ld
  FROM e JOIN lab a ON e.src = a.node JOIN lab b ON e.dst = b.node
),
nn AS (SELECT label, CAST(count(*) AS BIGINT) AS n_nodes FROM lab GROUP BY label),
itl AS (
  SELECT ls AS label, CAST(count(*) AS BIGINT) AS n_internal
  FROM j WHERE ls = ld GROUP BY ls
),
cut AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n_cut FROM (
    SELECT ls AS label FROM j WHERE ls <> ld
    UNION ALL
    SELECT ld AS label FROM j WHERE ls <> ld
  ) GROUP BY label
)
SELECT nn.label, nn.n_nodes,
       CAST(coalesce(itl.n_internal, 0) AS BIGINT) AS n_internal,
       CAST(coalesce(cut.n_cut, 0) AS BIGINT) AS n_cut
FROM nn
LEFT JOIN itl ON nn.label = itl.label
LEFT JOIN cut ON nn.label = cut.label
"""
)

# ---------------------------------------------------------------------------
# Q: fuzzy canonical vocabulary (ED-1 alias edges -> CC -> canonical form)
# ---------------------------------------------------------------------------


def q_fuzzy_canonical_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composition linking/fuzzy.py promises: typo-variant alias edges
    from the ED-1 join feed the SAME connected-components stage as exact
    redirects, producing a canonical surface form per token (min of the
    component). Oracle replays it with a recursive min-label CTE."""
    from chronographer_spark.linking.canonicalize import connected_components
    from chronographer_spark.linking.fuzzy import ed1_pairs

    part = _t(spark, sf_dir, "part")
    docs = _t(spark, sf_dir, "documents")
    vocab = (
        part.select(F.explode(F.split("p_name", " ")).alias("tok"))
        .unionByName(
            docs.select(
                F.explode(
                    F.split(
                        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "),
                        " ",
                    )
                ).alias("tok")
            )
        )
        .filter((F.col("tok") != "") & (F.length("tok") <= 64))
        .distinct()
    )
    edges = ed1_pairs(vocab).select(
        F.col("tok1").alias("src"), F.col("tok2").alias("dst")
    )
    nodes = vocab.select(F.col("tok").alias("node"))
    cc = connected_components(edges, all_nodes=nodes)
    return cc.select(F.col("node").alias("tok"), F.col("component").alias("canonical"))

FUZZY_CANONICAL_SQL = """
WITH RECURSIVE v AS (
  SELECT DISTINCT tok FROM (
    SELECT unnest(string_split(p_name, ' ')) AS tok FROM part
    UNION ALL
    SELECT unnest(string_split(
      regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS tok
    FROM documents
  ) WHERE tok <> '' AND length(tok) <= 64
),
p AS (
  SELECT a.tok AS tok1, b.tok AS tok2
  FROM v a JOIN v b ON a.tok < b.tok AND levenshtein(a.tok, b.tok) <= 1
),
edges AS (
  SELECT tok1 AS src, tok2 AS dst FROM p UNION SELECT tok2, tok1 FROM p
),
reach(node, lbl) AS (
  SELECT tok, tok FROM v
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS tok, min(lbl) AS canonical FROM reach GROUP BY node
"""

def q_ssl_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation (graph_algos.ssl_label_propagation)
    over the users' temporal-adjacency graph: edge (a, b) when b's event
    directly follows a's within the same event_type (lead over (ts,
    event_id) — a total order, deterministic); seeds = every 5th user
    labeled with their first event_type. Two clamped synchronous rounds.
    The oracle replays the identical (-count, label) arg-min tie-break.

    Scale note: the lead-window partitions on event_type (6 values) —
    fine as FIXTURE edge derivation for oracle parity, but a 100 TB edge
    list would come from the canonicalization/co-occurrence joins; the
    operator itself only sees (src, dst) and scales with the CC rounds."""
    from chronographer_spark.operators.graph_algos import ssl_label_propagation

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    edges = (
        ev.select(
            F.col("user_id").alias("src"),
            F.lead("user_id").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull() & (F.col("dst") != F.col("src")))
    )
    seeds = (
        ev.groupBy("user_id")
        .agg(F.min(F.struct("ts", "event_id", "event_type")).alias("f"))
        .filter(F.col("user_id") % 5 == 0)
        .select(F.col("user_id").alias("node"), F.col("f.event_type").alias("label"))
    )
    return ssl_label_propagation(edges, seeds, iterations=2)

SSL_LABELS_SQL = """
WITH ed AS (
  SELECT src, dst FROM (
    SELECT user_id AS src,
           lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id)
             AS dst
    FROM events
  ) WHERE dst IS NOT NULL AND dst <> src
),
sym AS (
  SELECT src, dst FROM ed
  UNION ALL
  SELECT dst AS src, src AS dst FROM ed
),
sd AS (
  SELECT user_id AS node, event_type AS label FROM (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events
  ) WHERE rn = 1 AND user_id % 5 = 0
),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM sym UNION ALL SELECT node FROM sd
  )
),
l0 AS (
  SELECT n.node, sd.label FROM nodes n LEFT JOIN sd ON n.node = sd.node
),
v1 AS (
  SELECT s.dst AS node, l.label, count(*) AS c
  FROM sym s JOIN l0 l ON s.src = l.node
  WHERE l.label IS NOT NULL GROUP BY 1, 2
),
b1 AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC)
             AS rn
    FROM v1
  ) WHERE rn = 1
),
l1 AS (
  SELECT l0.node, coalesce(sd.label, b1.label, l0.label) AS label
  FROM l0
  LEFT JOIN sd ON l0.node = sd.node
  LEFT JOIN b1 ON l0.node = b1.node
),
v2 AS (
  SELECT s.dst AS node, l.label, count(*) AS c
  FROM sym s JOIN l1 l ON s.src = l.node
  WHERE l.label IS NOT NULL GROUP BY 1, 2
),
b2 AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC)
             AS rn
    FROM v2
  ) WHERE rn = 1
),
l2 AS (
  SELECT l1.node, coalesce(sd.label, b2.label, l1.label) AS label
  FROM l1
  LEFT JOIN sd ON l1.node = sd.node
  LEFT JOIN b2 ON l1.node = b2.node
)
SELECT node, label FROM l2
"""

def q_er_fuse_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: blocked scoring -> match edges ->
    connected components -> referent dictionary -> attribute fusion, the
    full production composition (each stage individually gated:
    blocked_er_scores, cc_canonical, fuse_attributes). Fixture: customers
    vs a deterministically perturbed copy (ids offset by 1e6, every 3rd
    balance shifted); names are unique, so the only pairs clearing
    min_score=10 are (k, k+1e6) — the oracle replays the provably-equal
    canonical mapping (component min = k) in closed form while Spark runs
    the real CC, then both fuse: segment agrees 2/2, cents ties 1-1 for
    the perturbed third (smallest string wins)."""
    from chronographer_spark.linking.blocking import blocked_match_scores
    from chronographer_spark.linking.canonicalize import connected_components
    from chronographer_spark.linking.fusion import fuse_attributes

    cust = _t(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long").alias("cents"),
    )
    pert = base.select(
        (F.col("id") + 1000000).alias("id"),
        "name",
        "nation",
        "segment",
        F.when(F.col("id") % 3 == 0, F.col("cents") + 10000)
        .otherwise(F.col("cents"))
        .alias("cents"),
    )
    edges = blocked_match_scores(
        base,
        pert,
        id_col="id",
        blocks=[["nation", "segment"]],
        agreements=[("name", 10)],
        min_score=10,
    ).select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    recs = base.unionByName(pert)
    cc = connected_components(edges, all_nodes=recs.select(F.col("id").alias("node")))
    refs = cc.select(
        F.col("node").alias("alias"), F.col("component").alias("canonical")
    )
    assertions = recs.select(
        F.col("id").alias("entity"),
        F.lit("segment").alias("attr"),
        F.col("segment").alias("value"),
    ).unionByName(
        recs.select(
            F.col("id").alias("entity"),
            F.lit("cents").alias("attr"),
            F.col("cents").cast("string").alias("value"),
        )
    )
    return fuse_attributes(assertions, referents=refs)

ER_FUSE_PIPELINE_SQL = """
WITH base AS (
  SELECT c_custkey AS k, c_mktsegment AS segment,
         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
  FROM customer
),
pert AS (
  SELECT k, segment,
         CASE WHEN k % 3 = 0 THEN cents + 10000 ELSE cents END AS cents
  FROM base
),
recs AS (
  SELECT k AS entity, segment, cents FROM base
  UNION ALL SELECT k, segment, cents FROM pert
),
a AS (
  SELECT entity, 'segment' AS attr, segment AS value FROM recs
  UNION ALL SELECT entity, 'cents', CAST(cents AS VARCHAR) FROM recs
),
c AS (SELECT entity, attr, value, count(*) AS cnt FROM a GROUP BY 1, 2, 3),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY entity, attr
                            ORDER BY cnt DESC, value ASC) AS rn,
         sum(cnt)  OVER (PARTITION BY entity, attr) AS total,
         count(*)  OVER (PARTITION BY entity, attr) AS n_values
  FROM c
)
SELECT entity, attr, value AS fused_value, CAST(cnt AS BIGINT) AS votes,
       CAST(total AS BIGINT) AS total, CAST(n_values AS BIGINT) AS n_values,
       CAST((cnt * 1000000) // total AS BIGINT) AS confidence_x1e6
FROM r WHERE rn = 1
"""

def q_er_clustering_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ER evaluation harness: run the REAL blocked-scoring -> connected-
    components pipeline on a fixture with deterministic errors, then score
    the predicted clustering against record identity with pairwise P/R/F1
    + B-cubed (linking/er_eval.clustering_eval — the clustering-side
    counterpart of the reference's set-overlap eval, src/evaluation.py).
    Fixture: customers vs a perturbed copy (ids +1e6; gold entity = k for
    both copies). Errors: every 5th key's copy gets an 'X'-suffixed name
    (false negative -> singleton); every 22nd key's copy takes the name of
    base k+11 ('R' suffix when k+11 is absent), creating a false-positive
    merge into entity k+11 whenever k and k+11 share (nation, segment).
    Components stay diameter <= 2 with a base-node center, so the oracle
    replays canonical = min in closed form while Spark runs the real CC."""
    from chronographer_spark.linking.blocking import blocked_match_scores
    from chronographer_spark.linking.canonicalize import connected_components
    from chronographer_spark.linking.er_eval import clustering_eval

    cust = _t(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
    )
    nxt = base.select(
        (F.col("id") - 11).alias("id"),
        F.col("name").alias("rname"),
        F.col("nation").alias("rnation"),
        F.col("segment").alias("rsegment"),
    )
    pert = (
        base.join(nxt, "id", "left")
        .select(
            (F.col("id") + 1000000).alias("id"),
            F.when(
                F.col("id") % 22 == 0,
                F.coalesce("rname", F.concat("name", F.lit("R"))),
            )
            .when(F.col("id") % 5 == 0, F.concat("name", F.lit("X")))
            .otherwise(F.col("name"))
            .alias("name"),
            "nation",
            "segment",
        )
    )
    edges = blocked_match_scores(
        base,
        pert,
        id_col="id",
        blocks=[["nation", "segment"]],
        agreements=[("name", 10)],
        min_score=10,
    ).select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    recs = base.select("id").unionByName(pert.select("id"))
    cc = connected_components(
        edges, all_nodes=recs.select(F.col("id").alias("node"))
    )
    labeled = cc.select(
        F.col("component").alias("pred"),
        (F.col("node") % 1000000).alias("gold"),
    )
    return clustering_eval(labeled)

ER_CLUSTERING_EVAL_SQL = """
WITH base AS (
  SELECT c_custkey AS k, c_name AS name, c_nationkey AS n, c_mktsegment AS s
  FROM customer
),
pcl AS (
  SELECT b.k + 1000000 AS id,
         CASE WHEN b.k % 22 = 0 THEN
                CASE WHEN nb.k IS NOT NULL AND nb.n = b.n AND nb.s = b.s
                     THEN b.k + 11 ELSE b.k + 1000000 END
              WHEN b.k % 5 = 0 THEN b.k + 1000000
              ELSE b.k END AS pred,
         b.k AS gold
  FROM base b LEFT JOIN base nb ON nb.k = b.k + 11
),
l AS (
  SELECT k AS id, k AS pred, k AS gold FROM base
  UNION ALL SELECT id, pred, gold FROM pcl
),
cells AS (SELECT pred, gold, CAST(count(*) AS BIGINT) AS c FROM l GROUP BY 1, 2),
ps AS (SELECT pred, CAST(count(*) AS BIGINT) AS np FROM l GROUP BY 1),
gs AS (SELECT gold, CAST(count(*) AS BIGINT) AS ng FROM l GROUP BY 1),
cs AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_records,
         CAST(sum(c * (c - 1) // 2) AS BIGINT) AS tp_pairs,
         CAST(sum(c * ((c * 1000000) // np)) AS BIGINT) AS b3p,
         CAST(sum(c * ((c * 1000000) // ng)) AS BIGINT) AS b3r
  FROM cells JOIN ps USING (pred) JOIN gs USING (gold)
),
pp AS (SELECT CAST(count(*) AS BIGINT) AS n_pred,
              CAST(sum(np * (np - 1) // 2) AS BIGINT) AS pred_pairs FROM ps),
gp AS (SELECT CAST(count(*) AS BIGINT) AS n_gold,
              CAST(sum(ng * (ng - 1) // 2) AS BIGINT) AS gold_pairs FROM gs)
SELECT n_records, n_pred, n_gold, pred_pairs, gold_pairs, tp_pairs,
       CAST(tp_pairs * 1000000 // nullif(pred_pairs, 0) AS BIGINT) AS pair_p_x1e6,
       CAST(tp_pairs * 1000000 // nullif(gold_pairs, 0) AS BIGINT) AS pair_r_x1e6,
       CAST(2 * tp_pairs * 1000000 // nullif(pred_pairs + gold_pairs, 0) AS BIGINT) AS pair_f1_x1e6,
       CAST(b3p // nullif(n_records, 0) AS BIGINT) AS b3_p_x1e6,
       CAST(b3r // nullif(n_records, 0) AS BIGINT) AS b3_r_x1e6
FROM cs, pp, gp
"""

# ---------------------------------------------------------------------------
# Q: strongly connected components of the nation trade-flow digraph
# ---------------------------------------------------------------------------

# Shared fragment: directed nation->nation trade flows (customer nation ships
# demand to supplier nation), the relational digraph the SCC/SSSP operators
# condense. count(*) is BIGINT in both engines.
FLOWS_FRAGMENT = """
flows AS (
  SELECT cn.n_name AS src, sn.n_name AS dst, CAST(count(*) AS BIGINT) AS n_flows
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
  WHERE cn.n_name <> sn.n_name
  GROUP BY 1, 2
)
"""

def _nation_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, n_flows): mirrors FLOWS_FRAGMENT. nation is 25 rows ->
    broadcast twice; the lineitem->orders->customer chain shuffles on its
    natural keys and the final agg is 625-key map-side combined."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("src"))),
            F.col("c_nationkey") == F.col("ck"),
        )
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("dst"))),
            F.col("s_nationkey") == F.col("sk"),
        )
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_flows"))
    )

def q_scc_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCC over the thresholded trade digraph (keep edges whose flow count
    is at least half the max flow): a dense mutual-trade core plus
    peripheral one-way exporters/importers, so the run exercises trim,
    color, AND mark. scc = min member nation name; the oracle recomputes
    it from recursive-CTE mutual reachability."""
    from chronographer_spark.operators.graph_algos import strongly_connected_components

    flows = _nation_flows(spark, sf_dir)
    mx = flows.agg(F.max("n_flows").alias("m"))
    edges = (
        flows.crossJoin(F.broadcast(mx))
        .filter(F.col("n_flows") * 2 >= F.col("m"))
        .select("src", "dst")
    )
    return strongly_connected_components(edges).select("node", "scc")

SCC_NATIONS_SQL = f"""
WITH RECURSIVE {FLOWS_FRAGMENT.strip()},
mx AS (SELECT max(n_flows) AS m FROM flows),
edges AS (SELECT src, dst FROM flows, mx WHERE n_flows * 2 >= m),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
mutual AS (
  SELECT a.src AS node, a.dst AS m
  FROM reach a JOIN reach b ON a.src = b.dst AND a.dst = b.src
)
SELECT node, min(m) AS scc FROM (
  SELECT node, node AS m FROM nodes
  UNION ALL
  SELECT node, m FROM mutual
) GROUP BY node
"""

# ---------------------------------------------------------------------------
# Q: bounded-hop weighted shortest path over the trade-flow digraph
# ---------------------------------------------------------------------------


def q_sssp_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-round Bellman-Ford from the highest-outflow nation with integer
    "rarity" edge costs (10^6 DIV n_flows: rare trade lanes are
    expensive). Exact-integer quotients keep the oracle float-free; the
    oracle unrolls the identical 4 relaxations. The 1-row source pick is
    the only driver collect."""
    from chronographer_spark.operators.graph_algos import bounded_sssp

    flows = _nation_flows(spark, sf_dir).localCheckpoint(eager=True)
    wedges = flows.select(
        "src", "dst", F.expr("CAST(1000000 AS BIGINT) DIV n_flows").alias("w")
    )
    src_row = (
        flows.groupBy("src")
        .agg(F.sum("n_flows").alias("t"))
        .orderBy(F.desc("t"), F.asc("src"))
        .first()
    )
    return bounded_sssp(wedges, src_row["src"], rounds=4).select("node", "dist")

def _sssp_rounds_sql(k: int) -> str:
    parts = []
    for i in range(1, k + 1):
        parts.append(
            f""",
d{i} AS (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM d{i - 1}
    UNION ALL
    SELECT e.dst AS node, d.dist + e.w AS dist
    FROM d{i - 1} d JOIN wedges e ON d.node = e.src
  ) GROUP BY node
)"""
        )
    return "".join(parts)

SSSP_NATIONS_SQL = f"""
WITH {FLOWS_FRAGMENT.strip()},
wedges AS (
  SELECT src, dst, CAST(1000000 AS BIGINT) // n_flows AS w FROM flows
),
totals AS (SELECT src, sum(n_flows) AS t FROM flows GROUP BY src),
src_pick AS (SELECT src AS node FROM totals ORDER BY t DESC, src ASC LIMIT 1),
d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM src_pick){_sssp_rounds_sql(4)}
SELECT node, CAST(dist AS BIGINT) AS dist FROM d4
"""

# ---------------------------------------------------------------------------
# Q: modularity of the region partition over the nation trade graph
# ---------------------------------------------------------------------------


def q_modularity_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region-partition quality over the undirected nation-trade graph:
    trade is global, so the readout shows WEAK community structure
    (q_x1e6 near or below zero per region) — the evaluation companion to
    label_propagation/cc clustering."""
    from chronographer_spark.operators.graph_algos import modularity_profile

    flows = _nation_flows(spark, sf_dir)
    und = flows.select(
        F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
    ).distinct()
    n = _t(spark, sf_dir, "nation").select("n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    comm = n.join(
        F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]
    ).select(F.col("n_name").alias("node"), F.col("r_name").alias("community"))
    return modularity_profile(und, comm).select(
        "community", "n_nodes", "degree_sum", "intra_edges", "q_x1e6"
    )

MODULARITY_REGIONS_SQL = f"""
WITH {FLOWS_FRAGMENT.strip().lstrip()},
und AS (
  SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst FROM flows
),
mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
deg AS (
  SELECT n, CAST(count(*) AS BIGINT) AS deg
  FROM (SELECT src AS n FROM und UNION ALL SELECT dst AS n FROM und)
  GROUP BY n
),
comm AS (
  SELECT n_name AS node, r_name AS community
  FROM nation JOIN region ON n_regionkey = r_regionkey
),
dc AS (
  SELECT community, CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(deg) AS BIGINT) AS degree_sum
  FROM deg JOIN comm ON deg.n = comm.node GROUP BY community
),
intra AS (
  SELECT cs.community, CAST(count(*) AS BIGINT) AS intra_edges
  FROM und
  JOIN comm cs ON und.src = cs.node
  JOIN comm cd ON und.dst = cd.node
  WHERE cs.community = cd.community
  GROUP BY cs.community
)
SELECT dc.community, dc.n_nodes, dc.degree_sum,
       CAST(coalesce(intra.intra_edges, 0) AS BIGINT) AS intra_edges,
       CAST((coalesce(intra.intra_edges, 0) * 1000000 // mm.m)
            - ((dc.degree_sum * 1000 // (2 * mm.m))
               * (dc.degree_sum * 1000 // (2 * mm.m))
               * 1000000 // (1000 * 1000)) AS BIGINT) AS q_x1e6
FROM dc LEFT JOIN intra ON dc.community = intra.community CROSS JOIN mm
"""

# ---------------------------------------------------------------------------
# Q: weighted PageRank over the nation trade graph
# ---------------------------------------------------------------------------


def q_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2 iterations with rank flowing proportional to n_flows — heavy
    trade routes carry endorsement; the unrolled oracle replays the same
    double arithmetic (float discipline per the pagerank_2iter family:
    gate values scaled with margin)."""
    from chronographer_spark.operators.graph_algos import pagerank

    flows = _nation_flows(spark, sf_dir).select(
        "src", "dst", F.col("n_flows").alias("w")
    )
    return pagerank(flows, iterations=2, weight_col="w").select(
        "node",
        F.floor(F.col("rank") * 1000000 + F.lit(0.5)).cast("long")
        .alias("rank_x1e6"),
    )

PAGERANK_WEIGHTED_SQL = f"""
WITH {FLOWS_FRAGMENT.strip()},
e AS (SELECT src, dst, CAST(n_flows AS DOUBLE) AS w FROM flows),
nodes AS (
  SELECT DISTINCT node FROM
    (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
),
outw AS (SELECT src, sum(w) AS d FROM e GROUP BY src),
r0 AS (SELECT node, CAST(1 AS DOUBLE) AS r FROM nodes),
r1 AS (
  SELECT n.node, (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
           + CAST(0.85 AS DOUBLE) * coalesce(s.m, CAST(0 AS DOUBLE)) AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, sum(r0.r * e.w / o.d) AS m
    FROM e JOIN r0 ON r0.node = e.src JOIN outw o ON o.src = e.src
    GROUP BY e.dst) s ON s.node = n.node
),
r2 AS (
  SELECT n.node, (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
           + CAST(0.85 AS DOUBLE) * coalesce(s.m, CAST(0 AS DOUBLE)) AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, sum(r1.r * e.w / o.d) AS m
    FROM e JOIN r1 ON r1.node = e.src JOIN outw o ON o.src = e.src
    GROUP BY e.dst) s ON s.node = n.node
)
SELECT node, CAST(floor(r * 1000000 + 0.5) AS BIGINT) AS rank_x1e6 FROM r2
"""

# ---------------------------------------------------------------------------
# Q: GCN-style feature propagation over a ring+skip fixture graph
# ---------------------------------------------------------------------------


def q_feature_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two smoothing rounds over vec_ids wired as a ring with +7 skip
    edges (a deterministic fixture graph derived from the embeddings
    table itself — the operator is graph-agnostic; production edges come
    from the canonicalization/co-occurrence joins). Features: the first 4
    embedding dims quantized x1000; output stays exploded (node, dim,
    val) for exact integer compare."""
    from chronographer_spark.operators.graph_algos import feature_propagation

    emb = _t(spark, sf_dir, "embeddings")
    n = emb.agg(F.count(F.lit(1)).alias("c"))
    feats = emb.select(
        F.col("vec_id").alias("node"),
        F.transform(
            F.slice("embedding", 1, 4),
            lambda x: F.floor(x.cast("double") * 1000 + F.lit(0.5)).cast("long"),
        ).alias("vec"),
    )
    base = emb.select("vec_id").crossJoin(F.broadcast(n))
    edges = base.select(
        F.col("vec_id").alias("src"),
        F.pmod(F.col("vec_id") + 1, F.col("c")).alias("dst"),
    ).unionAll(
        base.select(
            F.col("vec_id").alias("src"),
            F.pmod(F.col("vec_id") + 7, F.col("c")).alias("dst"),
        )
    )
    return feature_propagation(edges, feats, rounds=2).select(
        "node", "dim", "val"
    )

FEATURE_PROP_SQL = """
WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS c FROM embeddings),
f0 AS (
  SELECT vec_id AS node, CAST(i - 1 AS INT) AS dim,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT)
           AS val
  FROM embeddings, unnest(generate_series(1, 4)) AS t(i)
),
e AS (
  SELECT vec_id AS src, (vec_id + 1) % nn.c AS dst FROM embeddings, nn
  UNION ALL
  SELECT vec_id, (vec_id + 7) % nn.c FROM embeddings, nn
),
a1 AS (
  SELECT e.dst AS node, g.dim, CAST(sum(g.val) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM e JOIN f0 g ON g.node = e.src GROUP BY e.dst, g.dim
),
f1 AS (
  SELECT f.node, f.dim,
         CAST(CASE WHEN a1.n IS NULL THEN f.val
                   ELSE (f.val + a1.s) // (1 + a1.n) END AS BIGINT) AS val
  FROM f0 f LEFT JOIN a1 ON f.node = a1.node AND f.dim = a1.dim
),
a2 AS (
  SELECT e.dst AS node, g.dim, CAST(sum(g.val) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM e JOIN f1 g ON g.node = e.src GROUP BY e.dst, g.dim
)
SELECT f.node, f.dim,
       CAST(CASE WHEN a2.n IS NULL THEN f.val
                 ELSE (f.val + a2.s) // (1 + a2.n) END AS BIGINT) AS val
FROM f1 f LEFT JOIN a2 ON f.node = a2.node AND f.dim = a2.dim
"""

# ---------------------------------------------------------------------------
# Q: reciprocity of the thresholded trade digraph
# ---------------------------------------------------------------------------


def q_reciprocity_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same thresholded digraph as scc/hits/closeness: the mutual-trade
    core contributes reciprocal edges, one-way exporters dilute the ratio
    into the informative mid-range."""
    from chronographer_spark.operators.graph_algos import reciprocity_profile

    flows = _nation_flows(spark, sf_dir)
    mx = flows.agg(F.max("n_flows").alias("m"))
    edges = (
        flows.crossJoin(F.broadcast(mx))
        .filter(F.col("n_flows") * 2 >= F.col("m"))
        .select("src", "dst")
    )
    return reciprocity_profile(edges).select(
        "n_nodes", "n_edges", "n_reciprocal", "n_self", "reciprocity_x1e6"
    )

RECIPROCITY_TRADE_SQL = f"""
WITH {FLOWS_FRAGMENT.strip()},
mx AS (SELECT max(n_flows) AS m FROM flows),
e AS (SELECT DISTINCT src AS s, dst AS d FROM flows, mx WHERE n_flows * 2 >= m),
nl AS (SELECT s, d FROM e WHERE s <> d),
recip AS (
  SELECT a.s, a.d FROM nl a JOIN nl b ON a.s = b.d AND a.d = b.s
)
SELECT
  CAST((SELECT count(DISTINCT n) FROM
        (SELECT s AS n FROM e UNION ALL SELECT d FROM e)) AS BIGINT) AS n_nodes,
  CAST((SELECT count(*) FROM nl) AS BIGINT) AS n_edges,
  CAST((SELECT count(*) FROM recip) AS BIGINT) AS n_reciprocal,
  CAST((SELECT count(*) FROM e WHERE s = d) AS BIGINT) AS n_self,
  CAST(CASE WHEN (SELECT count(*) FROM nl) = 0 THEN 0
            ELSE (SELECT count(*) FROM recip) * 1000000
                 // (SELECT count(*) FROM nl) END AS BIGINT)
    AS reciprocity_x1e6
"""

# ---------------------------------------------------------------------------
# Q: truncated harmonic closeness over the thresholded trade digraph
# ---------------------------------------------------------------------------


def q_harmonic_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-hop harmonic centrality on the same thresholded digraph scc/hits
    use (full trade graph is near-complete — every node would read
    (V−1)·1e6); every node is a source (25 nations is dimension-scale, the
    all-sources case the operator documents as fine there)."""
    from chronographer_spark.operators.graph_algos import harmonic_closeness

    flows = _nation_flows(spark, sf_dir)
    mx = flows.agg(F.max("n_flows").alias("m"))
    edges = (
        flows.crossJoin(F.broadcast(mx))
        .filter(F.col("n_flows") * 2 >= F.col("m"))
        .select("src", "dst")
    )
    return harmonic_closeness(edges, rounds=3).select(
        "node", "n_reached", "harmonic_x1e6"
    )

HARMONIC_CLOSENESS_SQL = f"""
WITH RECURSIVE {FLOWS_FRAGMENT.strip()},
mx AS (SELECT max(n_flows) AS m FROM flows),
edges AS (SELECT src, dst FROM flows, mx WHERE n_flows * 2 >= m),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges),
walk(lm, node, dist) AS (
  SELECT node, node, 0 FROM nodes
  UNION
  SELECT w.lm, e.dst, w.dist + 1
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.dist < 3
),
d AS (
  SELECT lm, node, min(dist) AS dist FROM walk GROUP BY lm, node
),
agg AS (
  SELECT lm, CAST(count(*) AS BIGINT) AS n_reached,
         CAST(sum(1000000 // dist) AS BIGINT) AS harmonic_x1e6
  FROM d WHERE dist > 0 GROUP BY lm
)
SELECT nd.node,
       CAST(coalesce(agg.n_reached, 0) AS BIGINT) AS n_reached,
       CAST(coalesce(agg.harmonic_x1e6, 0) AS BIGINT) AS harmonic_x1e6
-- DISTINCT guard: under WITH RECURSIVE DuckDB re-expands a non-recursive
-- CTE referenced by the recursive member, dropping `nodes`' UNION dedup
FROM (SELECT DISTINCT node FROM nodes) nd LEFT JOIN agg ON agg.lm = nd.node
"""

# ---------------------------------------------------------------------------
# Q: HITS hubs/authorities over the thresholded trade digraph
# ---------------------------------------------------------------------------


def q_hits_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2 unnormalized iterations over the same thresholded flow digraph
    scc_nations uses: the mutual-trade core scores high on both axes,
    one-way exporters separate hub from authority."""
    from chronographer_spark.operators.graph_algos import hits

    flows = _nation_flows(spark, sf_dir)
    mx = flows.agg(F.max("n_flows").alias("m"))
    edges = (
        flows.crossJoin(F.broadcast(mx))
        .filter(F.col("n_flows") * 2 >= F.col("m"))
        .select("src", "dst")
    )
    return hits(edges, iterations=2).select("node", "hub", "auth")

HITS_NATIONS_SQL = f"""
WITH {FLOWS_FRAGMENT.strip().lstrip()},
mx AS (SELECT max(n_flows) AS m FROM flows),
edges AS (SELECT src, dst FROM flows, mx WHERE n_flows * 2 >= m),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges),
auth1 AS (
  SELECT n.node,
         CAST(coalesce((SELECT count(*) FROM edges e WHERE e.dst = n.node), 0)
              AS BIGINT) AS auth
  FROM nodes n
),
hub1 AS (
  SELECT n.node,
         CAST(coalesce((SELECT sum(a.auth) FROM edges e
                        JOIN auth1 a ON a.node = e.dst
                        WHERE e.src = n.node), 0) AS BIGINT) AS hub
  FROM nodes n
),
auth2 AS (
  SELECT n.node,
         CAST(coalesce((SELECT sum(h.hub) FROM edges e
                        JOIN hub1 h ON h.node = e.src
                        WHERE e.dst = n.node), 0) AS BIGINT) AS auth
  FROM nodes n
),
hub2 AS (
  SELECT n.node,
         CAST(coalesce((SELECT sum(a.auth) FROM edges e
                        JOIN auth2 a ON a.node = e.dst
                        WHERE e.src = n.node), 0) AS BIGINT) AS hub
  FROM nodes n
)
SELECT h.node, h.hub, a.auth
FROM hub2 h JOIN auth2 a ON h.node = a.node
"""

# ---------------------------------------------------------------------------
# Q: resource-allocation link prediction over the user<->event-type graph
# ---------------------------------------------------------------------------


def q_ra_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-allocation index (Zhou 2009) over the same bipartite
    user<->event-type graph as `neighborhood_overlap`: the degree-weighted
    merge-candidate ranking — pairs sharing only hub event types score near
    zero even when their raw common-neighbor count clears the bar."""
    from chronographer_spark.operators.graph_algos import resource_allocation

    ev = _t(spark, sf_dir, "events")
    edges = ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("src"),
        F.concat(F.lit("t"), F.col("event_type")).alias("dst"),
    )
    return resource_allocation(edges, min_common=4)

RA_LINKPRED_SQL = """
WITH e0 AS (
  SELECT DISTINCT src, dst FROM (
    SELECT 'u' || CAST(user_id AS VARCHAR) AS src, 't' || event_type AS dst
    FROM events
    UNION ALL
    SELECT 't' || event_type, 'u' || CAST(user_id AS VARCHAR) FROM events
  )
),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e0 GROUP BY src)
SELECT a.src AS node_a, b.src AS node_b,
       CAST(count(*) AS BIGINT) AS n_common,
       CAST(sum(CAST(1000000 AS BIGINT) // dz.deg) AS BIGINT) AS ra_x1e6
FROM e0 a
JOIN e0 b ON a.dst = b.dst AND a.src < b.src
JOIN deg dz ON dz.src = a.dst
GROUP BY 1, 2
HAVING count(*) >= 4
"""

# ---------------------------------------------------------------------------
# Q: degree assortativity of the user<->event-type graph
# ---------------------------------------------------------------------------


def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman degree assortativity over the bipartite user<->event-type
    graph — strongly negative by construction (few hub types, many
    low-degree users), the KG-profile readout that flags hub-skewed
    traversals before they run."""
    from chronographer_spark.operators.graph_algos import degree_assortativity

    ev = _t(spark, sf_dir, "events")
    edges = ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("src"),
        F.concat(F.lit("t"), F.col("event_type")).alias("dst"),
    )
    return degree_assortativity(edges)

ASSORTATIVITY_SQL = """
WITH e0 AS (
  SELECT DISTINCT src, dst FROM (
    SELECT 'u' || CAST(user_id AS VARCHAR) AS src, 't' || event_type AS dst
    FROM events
    UNION ALL
    SELECT 't' || event_type, 'u' || CAST(user_id AS VARCHAR) FROM events
  )
),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e0 GROUP BY src),
ed AS (
  SELECT dx.deg AS dx, dy.deg AS dy
  FROM e0
  JOIN deg dx ON dx.src = e0.src
  JOIN deg dy ON dy.src = e0.dst
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS m, CAST(sum(dx) AS BIGINT) AS s
  FROM ed
),
dev AS (
  SELECT
    least(CAST(10000 AS BIGINT), greatest(CAST(-10000 AS BIGINT),
      (dx * t.m - t.s) // t.s * 1000
      + (dx * t.m - t.s) % t.s * 1000 // t.s)) AS ddx,
    least(CAST(10000 AS BIGINT), greatest(CAST(-10000 AS BIGINT),
      (dy * t.m - t.s) // t.s * 1000
      + (dy * t.m - t.s) % t.s * 1000 // t.s)) AS ddy
  FROM ed, tot t
),
rolled AS (
  SELECT CAST(sum(ddx * ddy) AS BIGINT) AS num,
         CAST(sum(ddx * ddx) AS BIGINT) AS sxx,
         CAST(sum(ddy * ddy) AS BIGINT) AS syy
  FROM dev
)
SELECT t.m AS m_edges, t.s AS s_deg, num, sxx, syy,
       CAST(CASE WHEN sxx = 0 OR syy = 0 THEN 0
            ELSE (CASE WHEN num < 0 THEN -1 ELSE 1 END)
                 * (abs(num) * 1000 // sxx)
                 * (abs(num) * 1000 // syy) END AS BIGINT) AS r2_x1e6
FROM rolled, tot t
"""

# ---------------------------------------------------------------------------
# Q: Weisfeiler-Leman structural color classes of the user<->type graph
# ---------------------------------------------------------------------------


def q_wl_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-round WL refinement over the customer/supplier–nation–region
    tree, starting from the node-kind letter: customers split by their
    nation's population profile (two customers are same-colored iff their
    nations host identical customer/supplier counts), nations by their
    own neighborhood shape — the color-class profile (color, n_nodes) is
    the subgraph-dedup readout. (The user<->event-type graph is complete
    at every SF — every user hits all 5 types — so WL there collapses to
    2 classes; this tree actually refines.)"""
    from chronographer_spark.operators.graph_algos import wl_colors

    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    edges = (
        cust.select(
            F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("src"),
            F.concat(F.lit("n"), F.col("c_nationkey").cast("string")).alias("dst"),
        )
        .unionByName(
            supp.select(
                F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("src"),
                F.concat(F.lit("n"), F.col("s_nationkey").cast("string")).alias("dst"),
            )
        )
        .unionByName(
            nat.select(
                F.concat(F.lit("n"), F.col("n_nationkey").cast("string")).alias("src"),
                F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias("dst"),
            )
        )
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    labels = nodes.select("node", F.substring("node", 1, 1).alias("label"))
    return (
        wl_colors(edges, labels, rounds=2)
        .groupBy("color")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    )

_WL_ROUND_SQL = """
d{r} AS (
  SELECT e.src AS node,
         CAST(sum(CAST(concat('0x', substr(md5(c.color), 1, 8)) AS BIGINT))
              AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS d
  FROM e0 e JOIN c{p} c ON c.node = e.dst
  GROUP BY e.src
),
c{r} AS (
  SELECT c.node,
         md5(c.color || '#' || CAST(coalesce(d.s, 0) AS VARCHAR)
             || '#' || CAST(coalesce(d.d, 0) AS VARCHAR)) AS color
  FROM c{p} c LEFT JOIN d{r} d ON d.node = c.node
)"""

WL_CLASSES_SQL = (
    """
WITH raw AS (
  SELECT 'c' || CAST(c_custkey AS VARCHAR) AS src,
         'n' || CAST(c_nationkey AS VARCHAR) AS dst FROM customer
  UNION ALL
  SELECT 's' || CAST(s_suppkey AS VARCHAR),
         'n' || CAST(s_nationkey AS VARCHAR) FROM supplier
  UNION ALL
  SELECT 'n' || CAST(n_nationkey AS VARCHAR),
         'r' || CAST(n_regionkey AS VARCHAR) FROM nation
),
e0 AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM raw UNION ALL SELECT dst, src FROM raw
  )
),
c0 AS (
  SELECT node, substr(node, 1, 1) AS color
  FROM (SELECT DISTINCT src AS node FROM e0)
),"""
    + _WL_ROUND_SQL.format(r=1, p=0)
    + ","
    + _WL_ROUND_SQL.format(r=2, p=1)
    + """
SELECT color, CAST(count(*) AS BIGINT) AS n_nodes
FROM c2 GROUP BY color
"""
)

# ---------------------------------------------------------------------------
# Q: densest-subgraph peeling over a clique-plus-periphery graph
# ---------------------------------------------------------------------------


def q_densest_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bahmani-peeling stats over a deterministic clique+periphery graph:
    the 25-nation clique (density 12) wrapped in the degree-1
    customer->nation periphery. Round 1 peels the periphery and the
    density readout jumps to the clique's 12.0 — the max row IS the
    densest core the approximation finds before overshooting."""
    from chronographer_spark.operators.graph_algos import densest_subgraph

    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    periphery = cust.select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("src"),
        F.concat(F.lit("n"), F.col("c_nationkey").cast("string")).alias("dst"),
    )
    na = nat.select(F.col("n_nationkey").alias("a"))
    nb = nat.select(F.col("n_nationkey").alias("b"))
    clique = (
        na.crossJoin(nb)
        .filter(F.col("a") < F.col("b"))
        .select(
            F.concat(F.lit("n"), F.col("a").cast("string")).alias("src"),
            F.concat(F.lit("n"), F.col("b").cast("string")).alias("dst"),
        )
    )
    return densest_subgraph(periphery.unionByName(clique), rounds=2)

DENSEST_ROUNDS_SQL = """
WITH raw AS (
  SELECT 'c' || CAST(c_custkey AS VARCHAR) AS src,
         'n' || CAST(c_nationkey AS VARCHAR) AS dst FROM customer
  UNION ALL
  SELECT 'n' || CAST(a.n_nationkey AS VARCHAR),
         'n' || CAST(b.n_nationkey AS VARCHAR)
  FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
),
e0 AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM raw UNION ALL SELECT dst, src FROM raw
  ) WHERE src <> dst
),
t0 AS (SELECT CAST(count(DISTINCT src) AS BIGINT) AS v,
              CAST(count(*) AS BIGINT) AS m FROM e0),
deg0 AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e0 GROUP BY src),
keep0 AS (SELECT d.src FROM deg0 d, t0 WHERE d.deg * 10 * t0.v >= 11 * t0.m),
e1 AS (
  SELECT e.src, e.dst FROM e0 e
  JOIN keep0 a ON a.src = e.src
  JOIN keep0 b ON b.src = e.dst
),
t1 AS (SELECT CAST(count(DISTINCT src) AS BIGINT) AS v,
              CAST(count(*) AS BIGINT) AS m FROM e1),
deg1 AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e1 GROUP BY src),
keep1 AS (SELECT d.src FROM deg1 d, t1 WHERE d.deg * 10 * t1.v >= 11 * t1.m),
e2 AS (
  SELECT e.src, e.dst FROM e1 e
  JOIN keep1 a ON a.src = e.src
  JOIN keep1 b ON b.src = e.dst
),
t2 AS (SELECT CAST(count(DISTINCT src) AS BIGINT) AS v,
              CAST(count(*) AS BIGINT) AS m FROM e2)
SELECT CAST(0 AS BIGINT) AS round, v AS n_nodes, m // 2 AS n_edges,
       CASE WHEN v = 0 THEN 0 ELSE m // 2 * 1000000 // v END AS density_x1e6
FROM t0
UNION ALL
SELECT CAST(1 AS BIGINT), v, m // 2,
       CASE WHEN v = 0 THEN 0 ELSE m // 2 * 1000000 // v END FROM t1
UNION ALL
SELECT CAST(2 AS BIGINT), v, m // 2,
       CASE WHEN v = 0 THEN 0 ELSE m // 2 * 1000000 // v END FROM t2
"""

# ---------------------------------------------------------------------------
# Q: bond-percolation robustness profile of the user<->type graph
# ---------------------------------------------------------------------------

_PERC_RATES = (100, 75, 50, 25)

def q_percolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bond-percolation robustness: keep each edge iff its md5 draw falls
    under the keep rate (NESTED across rates — the 25% graph is a subset
    of the 50% graph, the standard monotone percolation), then ONE
    connected-components run over the rate-prefixed disjoint union scores
    fragmentation per rate — the giant-component curve that tells a KG
    how sensitive its connectivity is to edge loss (missing extractions,
    filtered predicates). Returns per rate: n_nodes, n_edges,
    n_components, largest, largest_share_x1e6."""
    from chronographer_spark.linking.canonicalize import connected_components

    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("a"),
        F.concat(F.lit("t"), F.col("event_type")).alias("b"),
    ).distinct()
    h = (
        F.conv(
            F.substring(F.md5(F.concat_ws("#", "a", "b")), 1, 8), 16, 10
        ).cast("long")
        % 100
    )
    rates = F.array(*[F.lit(r) for r in _PERC_RATES])
    fan = (
        base.withColumn("h", h)
        .select("a", "b", "h", F.explode(rates).alias("rate"))
        .filter(F.col("h") < F.col("rate"))
        .localCheckpoint(eager=True)  # edges + per-rate edge counts share it
    )
    pref = lambda r, c: F.concat_ws("|", F.col(r).cast("string"), F.col(c))
    edges = fan.select(pref("rate", "a").alias("src"), pref("rate", "b").alias("dst"))
    node_base = (
        base.select(F.col("a").alias("n"))
        .unionByName(base.select(F.col("b").alias("n")))
        .distinct()
    )
    all_nodes = node_base.select(
        F.explode(rates).alias("rate"), "n"
    ).select(pref("rate", "n").alias("node"))
    cc = connected_components(edges, all_nodes=all_nodes)
    sizes = cc.select(
        F.split("node", r"\|").getItem(0).cast("long").alias("keep_rate"),
        "component",
    ).groupBy("keep_rate", "component").agg(F.count(F.lit(1)).alias("sz"))
    ec = fan.groupBy(F.col("rate").cast("long").alias("keep_rate")).agg(
        F.count(F.lit(1)).alias("n_edges")
    )
    return (
        sizes.groupBy("keep_rate")
        .agg(
            F.sum("sz").cast("long").alias("n_nodes"),
            F.count(F.lit(1)).cast("long").alias("n_components"),
            F.max("sz").cast("long").alias("largest"),
            F.expr("CAST(max(sz) * 1000000 DIV sum(sz) AS BIGINT)").alias(
                "largest_share_x1e6"
            ),
        )
        .join(F.broadcast(ec), "keep_rate", "left")
        .select(
            "keep_rate",
            "n_nodes",
            F.coalesce("n_edges", F.lit(0)).cast("long").alias("n_edges"),
            "n_components",
            "largest",
            "largest_share_x1e6",
        )
    )

PERCOLATION_SQL = """
WITH RECURSIVE base AS (
  SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS a,
                  't' || event_type AS b
  FROM events
),
hb AS (
  SELECT a, b,
         CAST(concat('0x', substr(md5(a || '#' || b), 1, 8)) AS BIGINT)
           % 100 AS h
  FROM base
),
fan AS (
  SELECT r, a, b
  FROM hb, (VALUES (100), (75), (50), (25)) AS t(r)
  WHERE h < r
),
edges AS (
  SELECT CAST(r AS VARCHAR) || '|' || a AS src,
         CAST(r AS VARCHAR) || '|' || b AS dst FROM fan
  UNION
  SELECT CAST(r AS VARCHAR) || '|' || b,
         CAST(r AS VARCHAR) || '|' || a FROM fan
),
nodes AS (
  SELECT CAST(r AS VARCHAR) || '|' || n AS node
  FROM (SELECT a AS n FROM base UNION SELECT b FROM base),
       (VALUES (100), (75), (50), (25)) AS t(r)
),
reach(node, lbl) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node, min(lbl) AS c FROM reach GROUP BY node),
sizes AS (
  SELECT CAST(string_split(node, '|')[1] AS BIGINT) AS keep_rate, c,
         CAST(count(*) AS BIGINT) AS sz
  FROM comp GROUP BY 1, 2
),
ec AS (
  SELECT CAST(r AS BIGINT) AS keep_rate, CAST(count(*) AS BIGINT) AS n_edges
  FROM fan GROUP BY 1
)
SELECT s.keep_rate,
       CAST(sum(sz) AS BIGINT) AS n_nodes,
       coalesce(max(ec.n_edges), 0) AS n_edges,
       CAST(count(*) AS BIGINT) AS n_components,
       CAST(max(sz) AS BIGINT) AS largest,
       CAST(CAST(max(sz) AS BIGINT) * 1000000
            // CAST(sum(sz) AS BIGINT) AS BIGINT) AS largest_share_x1e6
FROM sizes s LEFT JOIN ec ON ec.keep_rate = s.keep_rate
GROUP BY s.keep_rate
"""

# ---------------------------------------------------------------------------
# Q: rich-club coefficient of the clique+periphery graph
# ---------------------------------------------------------------------------


def q_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club curve over the nation-clique + customer-periphery graph:
    above k=23 only the 25 clique nations remain and phi hits exactly
    1e6 — the elite-core readout that complements assortativity's
    edge-level correlation (same graph as densest_rounds)."""
    from chronographer_spark.operators.graph_algos import rich_club

    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    periphery = cust.select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("src"),
        F.concat(F.lit("n"), F.col("c_nationkey").cast("string")).alias("dst"),
    )
    na = nat.select(F.col("n_nationkey").alias("a"))
    nb = nat.select(F.col("n_nationkey").alias("b"))
    clique = (
        na.crossJoin(nb)
        .filter(F.col("a") < F.col("b"))
        .select(
            F.concat(F.lit("n"), F.col("a").cast("string")).alias("src"),
            F.concat(F.lit("n"), F.col("b").cast("string")).alias("dst"),
        )
    )
    return rich_club(periphery.unionByName(clique), thresholds=(2, 8, 23))

RICH_CLUB_SQL = """
WITH raw AS (
  SELECT 'c' || CAST(c_custkey AS VARCHAR) AS src,
         'n' || CAST(c_nationkey AS VARCHAR) AS dst FROM customer
  UNION ALL
  SELECT 'n' || CAST(a.n_nationkey AS VARCHAR),
         'n' || CAST(b.n_nationkey AS VARCHAR)
  FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
),
e0 AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM raw UNION ALL SELECT dst, src FROM raw
  ) WHERE src <> dst
),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e0 GROUP BY src),
ed AS (
  SELECT least(da.deg, db.deg) AS mindeg
  FROM e0
  JOIN deg da ON da.src = e0.src
  JOIN deg db ON db.src = e0.dst
  WHERE e0.src < e0.dst
),
ks AS (SELECT * FROM (VALUES (2), (8), (23)) AS t(k)),
ek AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n_edges
  FROM ed, ks WHERE mindeg > k GROUP BY k
),
nk AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n_nodes
  FROM deg, ks WHERE deg > k GROUP BY k
)
SELECT CAST(nk.k AS BIGINT) AS k, nk.n_nodes,
       coalesce(ek.n_edges, 0) AS n_edges,
       CAST(CASE WHEN nk.n_nodes <= 1 THEN 0
            ELSE 2 * coalesce(ek.n_edges, 0) * 1000000
                 // (nk.n_nodes * (nk.n_nodes - 1)) END AS BIGINT)
         AS phi_x1e6
FROM nk LEFT JOIN ek ON ek.k = nk.k
"""

# ---------------------------------------------------------------------------
# Q: landmark stress centrality from region nodes over the geo tree
# ---------------------------------------------------------------------------


def q_stress_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stress centrality from the 5 region landmarks over the symmetric
    customer/supplier-nation-region tree (2 BFS rounds): every nation's
    stress = its population (all region->member shortest paths run
    through it) — the load-bearing-node readout, exact integers."""
    from chronographer_spark.operators.graph_algos import landmark_stress

    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    edges = (
        cust.select(
            F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("src"),
            F.concat(F.lit("n"), F.col("c_nationkey").cast("string")).alias("dst"),
        )
        .unionByName(
            supp.select(
                F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("src"),
                F.concat(F.lit("n"), F.col("s_nationkey").cast("string")).alias("dst"),
            )
        )
        .unionByName(
            nat.select(
                F.concat(F.lit("n"), F.col("n_nationkey").cast("string")).alias("src"),
                F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias("dst"),
            )
        )
    )
    region = _t(spark, sf_dir, "region")
    lms = region.select(
        F.concat(F.lit("r"), F.col("r_regionkey").cast("string")).alias("node")
    )
    out = landmark_stress(edges, lms, rounds=2)
    return out.filter(F.col("stress") > 0)

STRESS_CENTRALITY_SQL = """
WITH raw AS (
  SELECT 'c' || CAST(c_custkey AS VARCHAR) AS src,
         'n' || CAST(c_nationkey AS VARCHAR) AS dst FROM customer
  UNION ALL
  SELECT 's' || CAST(s_suppkey AS VARCHAR),
         'n' || CAST(s_nationkey AS VARCHAR) FROM supplier
  UNION ALL
  SELECT 'n' || CAST(n_nationkey AS VARCHAR),
         'r' || CAST(n_regionkey AS VARCHAR) FROM nation
),
e0 AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM raw UNION ALL SELECT dst, src FROM raw
  ) WHERE src <> dst
),
s0 AS (
  SELECT 'r' || CAST(r_regionkey AS VARCHAR) AS lm,
         'r' || CAST(r_regionkey AS VARCHAR) AS node,
         0 AS dist, CAST(1 AS BIGINT) AS sigma
  FROM region
),
f1 AS (
  SELECT s.lm, e.dst AS node, 1 AS dist,
         CAST(sum(s.sigma) AS BIGINT) AS sigma
  FROM s0 s JOIN e0 e ON e.src = s.node
  WHERE NOT EXISTS (
    SELECT 1 FROM s0 p WHERE p.lm = s.lm AND p.node = e.dst)
  GROUP BY s.lm, e.dst
),
f2 AS (
  SELECT f.lm, e.dst AS node, 2 AS dist,
         CAST(sum(f.sigma) AS BIGINT) AS sigma
  FROM f1 f JOIN e0 e ON e.src = f.node
  WHERE NOT EXISTS (
    SELECT 1 FROM s0 p WHERE p.lm = f.lm AND p.node = e.dst)
    AND NOT EXISTS (
    SELECT 1 FROM f1 p WHERE p.lm = f.lm AND p.node = e.dst)
  GROUP BY f.lm, e.dst
),
settled AS (
  SELECT * FROM s0 UNION ALL SELECT * FROM f1 UNION ALL SELECT * FROM f2
),
succ AS (
  SELECT a.lm, a.node AS src, b.node AS dst, a.dist AS dv
  FROM settled a
  JOIN e0 e ON e.src = a.node
  JOIN settled b ON b.lm = a.lm AND b.node = e.dst
  WHERE b.dist = a.dist + 1
),
chi2 AS (
  SELECT lm, node, CAST(0 AS BIGINT) AS chi FROM settled WHERE dist = 2
),
chi1 AS (
  SELECT l.lm, l.node,
         CAST(coalesce(sum(c.chi + 1), 0) AS BIGINT) AS chi
  FROM (SELECT lm, node FROM settled WHERE dist = 1) l
  LEFT JOIN succ s ON s.lm = l.lm AND s.src = l.node AND s.dv = 1
  LEFT JOIN chi2 c ON c.lm = s.lm AND c.node = s.dst
  GROUP BY l.lm, l.node
),
chi0 AS (
  SELECT l.lm, l.node,
         CAST(coalesce(sum(c.chi + 1), 0) AS BIGINT) AS chi
  FROM (SELECT lm, node FROM settled WHERE dist = 0) l
  LEFT JOIN succ s ON s.lm = l.lm AND s.src = l.node AND s.dv = 0
  LEFT JOIN chi1 c ON c.lm = s.lm AND c.node = s.dst
  GROUP BY l.lm, l.node
),
acc AS (
  SELECT * FROM chi2 UNION ALL SELECT * FROM chi1 UNION ALL SELECT * FROM chi0
)
SELECT st.node,
       CAST(min(st.dist) AS BIGINT) AS dist,
       CAST(sum(st.sigma) AS BIGINT) AS sigma,
       CAST(sum(a.chi) AS BIGINT) AS chi,
       CAST(sum(st.sigma * a.chi) AS BIGINT) AS stress
FROM settled st JOIN acc a ON a.lm = st.lm AND a.node = st.node
GROUP BY st.node
HAVING sum(st.sigma * a.chi) > 0
"""

# ---------------------------------------------------------------------------
# Q: Boruvka minimum spanning forest over the nation trade graph
# ---------------------------------------------------------------------------


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected nation trade graph (u, v, w) with UNIQUE rarity
    weights: w = (1e6 DIV flow)·1000 + uk·25 + vk — high-volume lanes
    are cheap, the nationkey term is an injective per-pair tie-break.
    Shared fixture for `mst_trade` and `matching_trade`; mirrors the
    oracle's TRADE_EDGES_FRAGMENT."""
    flows = _nation_flows(spark, sf_dir)
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    und = (
        flows.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
            "n_flows",
        )
        .groupBy("u", "v")
        .agg(F.sum("n_flows").alias("flow"))
    )
    return (
        und.join(
            F.broadcast(
                n.select(F.col("n_name").alias("u"), F.col("n_nationkey").alias("uk"))
            ),
            "u",
        )
        .join(
            F.broadcast(
                n.select(F.col("n_name").alias("v"), F.col("n_nationkey").alias("vk"))
            ),
            "v",
        )
        .select(
            "u",
            "v",
            (
                F.expr("CAST(1000000 AS BIGINT) DIV flow") * 1000
                + F.col("uk") * 25
                + F.col("vk")
            ).alias("w"),
        )
    )

TRADE_EDGES_FRAGMENT = f"""{FLOWS_FRAGMENT.strip().lstrip()},
und AS (
  SELECT least(src, dst) AS u, greatest(src, dst) AS v,
         CAST(sum(n_flows) AS BIGINT) AS flow
  FROM flows GROUP BY 1, 2
),
ed AS (
  SELECT und.u, und.v,
         (1000000 // flow) * 1000 + nu.n_nationkey * 25 + nv.n_nationkey AS w
  FROM und
  JOIN nation nu ON nu.n_name = und.u
  JOIN nation nv ON nv.n_name = und.v
)"""

def q_mst_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum spanning forest of the undirected nation trade graph with
    rarity weights (1e6 DIV flow: high-volume lanes are cheap) — the
    cheapest backbone connecting all trading nations through their
    strongest lanes. UNIQUE weights (see _trade_edges) make the MST
    unique, so the oracle can verify via the cycle property (edge in MST
    iff endpoints not connected by strictly lighter edges — one
    recursive reachability CTE) instead of replaying Boruvka rounds."""
    from chronographer_spark.operators.graph_algos import boruvka_mst

    e = _trade_edges(spark, sf_dir)
    return boruvka_mst(e).select("u", "v", F.col("w").cast("long").alias("w"))

MST_TRADE_SQL = f"""
WITH RECURSIVE {TRADE_EDGES_FRAGMENT},
reach AS (
  SELECT u AS eu, v AS ev, w AS ew, u AS node FROM ed
  UNION
  SELECT r.eu, r.ev, r.ew,
         CASE WHEN e.u = r.node THEN e.v ELSE e.u END AS node
  FROM reach r JOIN ed e ON (e.u = r.node OR e.v = r.node) AND e.w < r.ew
)
SELECT DISTINCT d.u, d.v, CAST(d.w AS BIGINT) AS w
FROM ed d
WHERE NOT EXISTS (
  SELECT 1 FROM reach r WHERE r.eu = d.u AND r.ev = d.v AND r.node = d.v
)
"""

# ---------------------------------------------------------------------------
# Q: greedy maximum-weight matching over the nation trade graph
# ---------------------------------------------------------------------------


def q_matching_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Locally-dominant greedy matching (Preis) over the trade graph
    with INVERTED rarity weights (max-weight = strongest lane): each
    nation pairs exclusively with its best available partner — the
    one-to-one alignment primitive. With the fixture's unique weights
    the result equals sequential greedy exactly, so the oracle replays
    a FIXED 13 rounds (25 nodes: worst case |V|/2 matching rounds;
    converged rounds are no-ops, so both engines agree without agreeing
    on when convergence happened)."""
    from chronographer_spark.operators.graph_algos import greedy_matching

    # invert: strongest lanes have the largest weight, tie-break intact
    e = _trade_edges(spark, sf_dir).select(
        "u", "v", (F.lit(2_000_000_000) - F.col("w")).alias("w")
    )
    return greedy_matching(e, max_rounds=13).select(
        "u", "v", F.col("w").cast("long").alias("w")
    )

def _matching_rounds_sql(k: int) -> str:
    # AS MATERIALIZED is load-bearing: without it DuckDB inlines each
    # multiply-referenced a{i}/s{i} CTE, the expansion grows ~3^k and the
    # flows fragment's parquet scans multiply until fd exhaustion
    # ("Too many open files" at k=13, observed).
    parts = [
        """,
a0 AS MATERIALIZED (SELECT u, v, 2000000000 - w AS w FROM ed),
m0 AS (SELECT u, v, w FROM a0 WHERE false)"""
    ]
    for i in range(1, k + 1):
        parts.append(
            f""",
b{i} AS MATERIALIZED (
  SELECT node, max(w) AS bw FROM (
    SELECT u AS node, w FROM a{i - 1}
    UNION ALL
    SELECT v AS node, w FROM a{i - 1}
  ) GROUP BY node
),
s{i} AS MATERIALIZED (
  SELECT a.u, a.v, a.w
  FROM a{i - 1} a
  JOIN b{i} bu ON bu.node = a.u AND bu.bw = a.w
  JOIN b{i} bv ON bv.node = a.v AND bv.bw = a.w
),
m{i} AS (SELECT u, v, w FROM m{i - 1} UNION ALL SELECT u, v, w FROM s{i}),
a{i} AS MATERIALIZED (
  SELECT a.u, a.v, a.w FROM a{i - 1} a
  WHERE NOT EXISTS (
    SELECT 1 FROM s{i} s
    WHERE s.u IN (a.u, a.v) OR s.v IN (a.u, a.v)
  )
)"""
        )
    return "".join(parts)

MATCHING_TRADE_SQL = f"""
WITH {TRADE_EDGES_FRAGMENT}{_matching_rounds_sql(13)}
SELECT u, v, CAST(w AS BIGINT) AS w FROM m13
"""

# ---------------------------------------------------------------------------
# Q: quantized SimRank over the nation trade digraph
# ---------------------------------------------------------------------------


def q_simrank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-iteration quantized SimRank (C = 1/2, ×1e6 integers) over the
    directed trade graph: two importers are similar if they buy from
    SIMILAR exporters — second-order structural equivalence beside
    neighborhood_overlap's direct Jaccard. The per-round DIV truncation
    is the quantized spec both engines replay."""
    from chronographer_spark.operators.graph_algos import simrank_unrolled

    ed = _nation_flows(spark, sf_dir).select("src", "dst")
    return simrank_unrolled(ed, rounds=2)

SIMRANK_TRADE_SQL = f"""
WITH {FLOWS_FRAGMENT.strip().lstrip()},
ine AS MATERIALIZED (SELECT DISTINCT dst AS node, src AS nb FROM flows),
deg AS MATERIALIZED (
  SELECT node, CAST(count(*) AS BIGINT) AS d FROM ine GROUP BY node
),
diag AS MATERIALIZED (
  SELECT x.node AS a, y.node AS b, CAST(count(*) AS BIGINT) * 1000000 AS t
  FROM ine x JOIN ine y ON x.nb = y.nb AND x.node < y.node
  GROUP BY 1, 2
),
s1 AS MATERIALIZED (
  SELECT a, b, CAST(t // (2 * da.d * db.d) AS BIGINT) AS s
  FROM diag
  JOIN deg da ON da.node = diag.a
  JOIN deg db ON db.node = diag.b
  WHERE CAST(t // (2 * da.d * db.d) AS BIGINT) > 0
),
s1f AS (SELECT a, b, s FROM s1 UNION ALL SELECT b AS a, a AS b, s FROM s1),
off2 AS (
  SELECT x.node AS a, y.node AS b, CAST(sum(sv.s) AS BIGINT) AS t
  FROM ine x
  JOIN s1f sv ON sv.a = x.nb
  JOIN ine y ON y.nb = sv.b
  WHERE x.node < y.node
  GROUP BY 1, 2
),
tot2 AS (
  SELECT a, b, CAST(sum(t) AS BIGINT) AS t FROM (
    SELECT a, b, t FROM diag UNION ALL SELECT a, b, t FROM off2
  ) GROUP BY a, b
)
SELECT tot2.a, tot2.b, CAST(t // (2 * da.d * db.d) AS BIGINT) AS s_x1e6
FROM tot2
JOIN deg da ON da.node = tot2.a
JOIN deg db ON db.node = tot2.b
WHERE CAST(t // (2 * da.d * db.d) AS BIGINT) > 0
"""

# ---------------------------------------------------------------------------
# Q: Katz centrality over the tool-transition graph
# ---------------------------------------------------------------------------


def q_katz_tools(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality (3 unrolled terms, β = 1/8) over the weighted
    tool-transition graph: ranks tools by attenuated workflow traffic
    flowing INTO them through walks of length <= 3 — the reachability
    centrality beside PageRank's random surfer. Exact integers: β is a
    binary power so katz_scaled = 64·A1 + 8·A²1 + A³1 with weighted
    adjacency A — both engines replay the three join+agg rounds
    bit-for-bit."""
    from chronographer_spark.operators.dialogue import tool_transitions
    from chronographer_spark.operators.graph_algos import katz_unrolled

    tx = transcripts_from_events(spark, sf_dir)
    ed = tool_transitions(tx).select(
        F.col("tool_from").alias("src"),
        F.col("tool_to").alias("dst"),
        F.col("n_transitions").alias("nt"),
    )
    return katz_unrolled(ed, rounds=3, beta_shift=3, weight_col="nt")

KATZ_TOOLS_SQL = f"""
{TX_SQL},
calls AS (
  SELECT conv_id, turn_idx, tool AS tool_to FROM tx WHERE tool <> ''
),
pairs AS (
  SELECT lag(tool_to) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS tool_from,
         tool_to
  FROM calls
),
ed AS (
  SELECT tool_from AS src, tool_to AS dst, CAST(count(*) AS BIGINT) AS nt
  FROM pairs WHERE tool_from IS NOT NULL GROUP BY 1, 2
),
nodes AS (
  SELECT src AS node FROM ed UNION SELECT dst FROM ed
),
x1 AS (
  SELECT dst AS node, CAST(sum(nt) AS BIGINT) AS x FROM ed GROUP BY dst
),
x2 AS (
  SELECT e.dst AS node, CAST(sum(e.nt * x1.x) AS BIGINT) AS x
  FROM ed e JOIN x1 ON x1.node = e.src GROUP BY e.dst
),
x3 AS (
  SELECT e.dst AS node, CAST(sum(e.nt * x2.x) AS BIGINT) AS x
  FROM ed e JOIN x2 ON x2.node = e.src GROUP BY e.dst
)
SELECT n.node,
       CAST(coalesce(a.x, 0) * 64 + coalesce(b.x, 0) * 8 + coalesce(c.x, 0)
            AS BIGINT) AS katz_scaled
FROM nodes n
LEFT JOIN x1 a ON a.node = n.node
LEFT JOIN x2 b ON b.node = n.node
LEFT JOIN x3 c ON c.node = n.node
"""

# ---------------------------------------------------------------------------
# Q: Adamic-Adar link prediction on the user<->type bipartite graph
# ---------------------------------------------------------------------------


def q_aa_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized Adamic-Adar over the same bipartite user<->event-type
    graph as `ra_linkpred` — the log-damped middle setting between the
    raw common-neighbor count and RA's 1/deg, with the 1/log2 factor
    made exact-integer via bin()-length msb."""
    from chronographer_spark.operators.graph_algos import adamic_adar

    ev = _t(spark, sf_dir, "events")
    edges = ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("src"),
        F.concat(F.lit("t"), F.col("event_type")).alias("dst"),
    )
    return adamic_adar(edges, min_common=4)

AA_LINKPRED_SQL = """
WITH e0 AS (
  SELECT DISTINCT src, dst FROM (
    SELECT 'u' || CAST(user_id AS VARCHAR) AS src, 't' || event_type AS dst
    FROM events
    UNION ALL
    SELECT 't' || event_type, 'u' || CAST(user_id AS VARCHAR) FROM events
  )
),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e0 GROUP BY src)
SELECT a.src AS node_a, b.src AS node_b,
       CAST(count(*) AS BIGINT) AS n_common,
       CAST(sum(CAST(1000000 AS BIGINT) // (length(bin(d.deg)) - 1))
            AS BIGINT) AS aa_x1e6
FROM e0 a
JOIN e0 b ON a.dst = b.dst AND a.src < b.src
JOIN deg d ON d.src = a.dst
GROUP BY 1, 2
HAVING count(*) >= 4
"""

# ---------------------------------------------------------------------------
# Q: edge embeddedness / local bridges of the nation trade graph
# ---------------------------------------------------------------------------


def q_trade_embeddedness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddedness of every trade lane and the local bridges (lanes
    whose endpoints share no common trading partner) — the weak-tie
    screen over the same shared trade-graph fixture as mst/matching."""
    from chronographer_spark.operators.graph_algos import edge_embeddedness

    e = _trade_edges(spark, sf_dir)
    return edge_embeddedness(e, src="u", dst="v")

TRADE_EMBEDDEDNESS_SQL = f"""
WITH {TRADE_EDGES_FRAGMENT},
ue AS (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v FROM ed
       WHERE u <> v),
sym AS (SELECT u, v FROM ue UNION ALL SELECT v, u FROM ue),
wedges AS (
  SELECT a.u AS ua, b.u AS ub, CAST(count(*) AS BIGINT) AS cn
  FROM sym a JOIN sym b ON a.v = b.v AND a.u < b.u
  GROUP BY 1, 2
)
SELECT ue.u, ue.v,
       CAST(coalesce(w.cn, 0) AS BIGINT) AS embeddedness,
       CAST(CASE WHEN coalesce(w.cn, 0) = 0 THEN 1 ELSE 0 END AS BIGINT)
         AS is_local_bridge
FROM ue LEFT JOIN wedges w ON w.ua = ue.u AND w.ub = ue.v
"""

# ---------------------------------------------------------------------------
# Q: operator-variant equivalences proven THROUGH the gate (r4): the same
# oracle SQL validates two independent distributed implementations, so the
# gate itself certifies strategy/contract equivalence at sf0.01 — the
# in-repo analog of the soak_skew.py findings.
# ---------------------------------------------------------------------------


def q_cc_canonical_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cc_canonical's chain fixture WITHOUT precontraction: the star
    rounds alone. (The key keeps its name from when it ran the
    groupBy + self-join rounds, since removed.) Same oracle as
    cc_canonical: the gate certifies that precontraction leaves the
    components unchanged."""
    from chronographer_spark.linking.canonicalize import connected_components

    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    edges = (
        cust.withColumn("nxt", F.lead("c_custkey").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(F.col("c_custkey").alias("src"), F.col("nxt").alias("dst"))
    )
    singletons = cust.select(F.col("c_custkey").alias("node"))
    cc = connected_components(edges, all_nodes=singletons)
    return cc.select("node", "component").withColumnRenamed(
        "component", "canonical"
    )

def q_scc_nations_direct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scc_nations WITHOUT mutual-1-cycle precontraction (the raw
    FW-BW-Trim loop) — same oracle: the gate certifies the r4
    precontraction preserves SCC labels exactly."""
    from chronographer_spark.operators.graph_algos import strongly_connected_components

    flows = _nation_flows(spark, sf_dir)
    mx = flows.agg(F.max("n_flows").alias("m"))
    edges = (
        flows.crossJoin(F.broadcast(mx))
        .filter(F.col("n_flows") * 2 >= F.col("m"))
        .select("src", "dst")
    )
    return strongly_connected_components(edges, precontract=False).select(
        "node", "scc"
    )

def _divide_dag_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic divide-lattice DAG on custkeys: k -> k DIV 2 and
    k -> k DIV 3 (when distinct and >= 1). Every path terminates at 1;
    depth is log-bounded, path multiplicity grows polynomially — the
    multiple-inheritance fixture for the DAG DP."""
    nodes = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") >= 1)
        .select(F.col("c_custkey").cast("long").alias("k"))
    )
    e2 = nodes.filter(F.col("k") >= 2).select(
        F.col("k").alias("src"), F.expr("k DIV 2").alias("dst")
    )
    e3 = nodes.filter(
        (F.col("k") >= 3) & (F.expr("k DIV 3") != F.expr("k DIV 2"))
    ).select(F.col("k").alias("src"), F.expr("k DIV 3").alias("dst"))
    return e2.unionByName(e3)

def q_dag_path_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DAG path statistics (longest/shortest root distance + EXACT
    distinct-path count) by layered Kahn DP — a node finalizes only when
    all its out-neighbors are final, so n_paths is a true sum, never a
    relaxation. The oracle enumerates every path with a recursive CTE and
    aggregates — two entirely different algorithms, identical answers."""
    from chronographer_spark.operators.graph_algos import dag_path_stats

    return dag_path_stats(_divide_dag_edges(spark, sf_dir), root=1)

def q_dag_depth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topological layer census of the divide DAG: nodes and total path
    multiplicity per longest-path layer (the layering a taxonomy uses to
    order superclass-annotation rounds)."""
    from chronographer_spark.operators.graph_algos import dag_path_stats

    st = dag_path_stats(_divide_dag_edges(spark, sf_dir), root=1)
    return st.groupBy("d_long").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum("n_paths").cast("long").alias("sum_paths"),
    )

_DAG_WALK_SQL = """
nodes AS (
  SELECT CAST(c_custkey AS BIGINT) AS k FROM customer WHERE c_custkey >= 1
),
edges AS (
  SELECT k AS src, k // 2 AS dst FROM nodes WHERE k >= 2
  UNION ALL
  SELECT k AS src, k // 3 AS dst FROM nodes WHERE k >= 3 AND k // 3 <> k // 2
),
walk AS (
  SELECT k AS start, k AS cur, 0 AS steps FROM nodes
  UNION ALL
  SELECT w.start, e.dst, w.steps + 1
  FROM walk w JOIN edges e ON e.src = w.cur
),
fin AS (
  SELECT start AS node,
         CAST(max(steps) AS BIGINT) AS d_long,
         CAST(min(steps) AS BIGINT) AS d_short,
         CAST(count(*) AS BIGINT) AS n_paths
  FROM walk WHERE cur = 1 GROUP BY start
)
"""

DAG_PATH_STATS_SQL = (
    "WITH RECURSIVE " + _DAG_WALK_SQL + """
SELECT node, d_long, d_short, n_paths FROM fin
"""
)

DAG_DEPTH_HIST_SQL = (
    "WITH RECURSIVE " + _DAG_WALK_SQL + """
SELECT d_long, CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(n_paths) AS BIGINT) AS sum_paths
FROM fin GROUP BY d_long
"""
)

def q_incremental_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental canonicalization: the nation chains arrive in two waves
    (history = chain edges between custkeys not divisible by 3; batch = the
    remaining edges, each incident to a "new" custkey), the history labeling
    is folded forward with incremental_components — CC runs only on the
    contracted delta graph, never the history edges — and the result must be
    bit-identical to batch CC over the full graph (the oracle's per-nation
    min). Exercises old-old merges through new bridge nodes, new-node
    labeling, and changed-representative relabeling in one fixture."""
    from chronographer_spark.linking.canonicalize import connected_components, incremental_components

    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    full = (
        cust.withColumn("nxt", F.lead("c_custkey").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(
            F.col("c_custkey").cast("long").alias("src"),
            F.col("nxt").cast("long").alias("dst"),
        )
    )
    hist = full.filter((F.col("src") % 3 != 0) & (F.col("dst") % 3 != 0))
    batch = full.filter((F.col("src") % 3 == 0) | (F.col("dst") % 3 == 0))
    old_nodes = (
        cust.filter(F.col("c_custkey") % 3 != 0)
        .select(F.col("c_custkey").cast("long").alias("node"))
    )
    prior = connected_components(hist, all_nodes=old_nodes).localCheckpoint(
        eager=True
    )
    out = incremental_components(prior, batch)
    return out.select("node", F.col("component").alias("canonical"))

INCREMENTAL_CC_SQL = """
SELECT CAST(c_custkey AS BIGINT) AS node,
       CAST(min(c_custkey) OVER (PARTITION BY c_nationkey) AS BIGINT)
         AS canonical
FROM customer
"""

def q_incremental_cc_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGE INTO surface of incremental canonicalization: only the
    rows the daily append must upsert — prior nodes whose canonical moved
    when the batch bridged their chain segments, plus the new nodes. The
    oracle reconstructs the prior labeling with gaps-and-islands SQL (a
    history segment = a maximal run of consecutive non-%3 custkeys inside
    a nation chain; its label = the run's min) and diffs it against the
    full per-nation labeling."""
    from chronographer_spark.linking.canonicalize import connected_components, incremental_components

    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    full = (
        cust.withColumn("nxt", F.lead("c_custkey").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(
            F.col("c_custkey").cast("long").alias("src"),
            F.col("nxt").cast("long").alias("dst"),
        )
    )
    hist = full.filter((F.col("src") % 3 != 0) & (F.col("dst") % 3 != 0))
    batch = full.filter((F.col("src") % 3 == 0) | (F.col("dst") % 3 == 0))
    old_nodes = (
        cust.filter(F.col("c_custkey") % 3 != 0)
        .select(F.col("c_custkey").cast("long").alias("node"))
    )
    prior = connected_components(hist, all_nodes=old_nodes).localCheckpoint(
        eager=True
    )
    out = incremental_components(prior, batch, emit="delta")
    return out.select("node", F.col("component").alias("canonical"))

INCREMENTAL_CC_DELTA_SQL = """
WITH chain AS (
  SELECT CAST(c_custkey AS BIGINT) AS node, c_nationkey AS g,
         CAST(min(c_custkey) OVER (PARTITION BY c_nationkey) AS BIGINT)
           AS full_canon
  FROM customer
),
islands AS (
  -- history segments: runs of consecutive non-%3 nodes within the nation
  -- chain; the island id counts %3==0 markers seen so far in chain order
  SELECT node, g, full_canon,
         CAST(sum(CASE WHEN node % 3 = 0 THEN 1 ELSE 0 END)
              OVER (PARTITION BY g ORDER BY node
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS isl
  FROM chain
),
prior AS (
  SELECT node, full_canon,
         CAST(min(node) OVER (PARTITION BY g, isl) AS BIGINT) AS prior_canon
  FROM islands WHERE node % 3 <> 0
)
SELECT node, full_canon AS canonical FROM prior
WHERE prior_canon <> full_canon
UNION ALL
SELECT node, full_canon AS canonical FROM chain WHERE node % 3 = 0
"""

def q_node2vec_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-step node2vec biased walks over the (triangle-rich) nation trade
    graph: second-order p/q bias as integer weights (return 1, triangle 4,
    far 2), deterministic rejection sampling (3 attempts, fallback pinned
    to attempt 1). The oracle unrolls every step: candidate index-pick,
    triangle membership, acceptance test, and arg_min first-accept — the
    full sampler replayed bit-for-bit."""
    from chronographer_spark.operators.graph_algos import node2vec_walks

    flows = _nation_flows(spark, sf_dir)
    edges = flows.select("src", "dst")
    starts = edges.select(F.col("src").alias("node")).distinct()
    return node2vec_walks(
        edges, n_steps=3, starts=starts, seed="n2v",
        w_return=1, w_common=4, w_far=2, attempts=3,
    )

def _n2v_step_sql(i: int, attempts: int = 3, w_max: int = 4,
                  w_ret: int = 1, w_com: int = 4, w_far: int = 2) -> str:
    """One unrolled second-order step: candidates, index-pick, membership,
    acceptance, first-accept arg_min (fallback = attempt 1)."""
    return f"""
s{i}c AS (
  SELECT f.walk_id, f.prev, f.cur, j.j,
         CAST(concat('0x', substr(md5(
           'n2v|' || f.walk_id || '|{i}|' || CAST(j.j AS VARCHAR)
            || '|' || f.prev || '|' || f.cur), 1, 8)) AS BIGINT) AS r,
         d.deg
  FROM s{i - 1} f
  JOIN dg d ON f.cur = d.src
  CROSS JOIN (SELECT unnest(range(1, {attempts + 1})) AS j) j
),
s{i}x AS (
  SELECT c.walk_id, c.prev, c.cur, c.j, x.dst AS x,
         (c.r // c.deg) % {w_max} AS u
  FROM s{i}c c JOIN idx x ON x.src = c.cur AND x.i = c.r % c.deg
),
s{i}w AS (
  SELECT s.walk_id, s.prev, s.cur, s.j, s.x, s.u,
         CASE WHEN s.x = s.prev THEN {w_ret}
              WHEN m.src IS NOT NULL THEN {w_com}
              ELSE {w_far} END AS wc
  FROM s{i}x s LEFT JOIN nb m ON m.src = s.prev AND m.dst = s.x
),
s{i} AS (
  SELECT walk_id, cur AS prev,
         arg_min(x, CASE WHEN u < wc THEN j ELSE {attempts} + j END) AS cur
  FROM s{i}w GROUP BY walk_id, cur
)"""

NODE2VEC_WALKS_SQL = f"""
WITH {FLOWS_FRAGMENT.strip()},
nb AS (SELECT DISTINCT src, dst FROM flows),
idx AS (
  SELECT src, dst,
         row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS i
  FROM nb
),
dg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM nb GROUP BY src),
s0 AS (SELECT DISTINCT src AS walk_id, src AS cur FROM nb),
s1 AS (
  SELECT f.walk_id, f.cur AS prev, x.dst AS cur
  FROM s0 f JOIN dg d ON f.cur = d.src
  JOIN idx x ON x.src = f.cur
   AND x.i = CAST(concat('0x', substr(md5(
         'n2v|' || f.walk_id || '|1|' || f.cur), 1, 8)) AS BIGINT) % d.deg
),{_n2v_step_sql(2)},{_n2v_step_sql(3)}
SELECT walk_id, CAST(0 AS INT) AS step, cur AS node FROM s0
UNION ALL SELECT walk_id, CAST(1 AS INT) AS step, cur AS node FROM s1
UNION ALL SELECT walk_id, CAST(2 AS INT) AS step, cur AS node FROM s2
UNION ALL SELECT walk_id, CAST(3 AS INT) AS step, cur AS node FROM s3
"""

def q_pagerank_warm_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warm-start PageRank for the incremental-append regime: a 2-iteration
    prior is computed on the history subgraph (edges whose underlying keys
    are not divisible by 3), then ONE resumed iteration runs on the full
    graph initialized from the prior (new nodes start cold at 1.0). The
    oracle unrolls all three rounds — two on history, one resumed on the
    full edge set with the coalesced init."""
    from chronographer_spark.operators.graph_algos import pagerank

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")

    def _edges(o, c):
        e1 = o.select(
            F.concat(F.lit("o"), F.col("o_orderkey").cast("string")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("dst"),
        )
        e2 = c.select(
            F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("src"),
            F.concat(F.lit("n"), F.col("c_nationkey").cast("string")).alias("dst"),
        )
        return e1.unionByName(e2)

    full = _edges(orders, cust)
    hist = _edges(
        orders.filter(
            (F.col("o_orderkey") % 3 != 0) & (F.col("o_custkey") % 3 != 0)
        ),
        cust.filter(
            (F.col("c_custkey") % 3 != 0) & (F.col("c_nationkey") % 3 != 0)
        ),
    )
    prior = pagerank(hist, damping=0.85, iterations=2).localCheckpoint(
        eager=True
    )
    out = pagerank(full, damping=0.85, iterations=1, init_ranks=prior)
    return out.select(
        "node",
        F.floor(F.col("rank") * 1000000 + F.lit(0.5)).cast("long").alias(
            "rank_x1e6"
        ),
    )

PAGERANK_WARM_SQL = """
WITH ef AS (
  SELECT 'o' || CAST(o_orderkey AS VARCHAR) AS src,
         'c' || CAST(o_custkey AS VARCHAR) AS dst
  FROM orders
  UNION ALL
  SELECT 'c' || CAST(c_custkey AS VARCHAR),
         'n' || CAST(c_nationkey AS VARCHAR)
  FROM customer
),
eh AS (
  SELECT 'o' || CAST(o_orderkey AS VARCHAR) AS src,
         'c' || CAST(o_custkey AS VARCHAR) AS dst
  FROM orders WHERE o_orderkey % 3 <> 0 AND o_custkey % 3 <> 0
  UNION ALL
  SELECT 'c' || CAST(c_custkey AS VARCHAR),
         'n' || CAST(c_nationkey AS VARCHAR)
  FROM customer WHERE c_custkey % 3 <> 0 AND c_nationkey % 3 <> 0
),
nh AS (
  SELECT DISTINCT node FROM (SELECT src AS node FROM eh UNION ALL SELECT dst FROM eh)
),
nf AS (
  SELECT DISTINCT node FROM (SELECT src AS node FROM ef UNION ALL SELECT dst FROM ef)
),
oh AS (SELECT src, count(*) AS d FROM eh GROUP BY src),
odf AS (SELECT src, count(*) AS d FROM ef GROUP BY src),
h0 AS (SELECT node, CAST(1 AS DOUBLE) AS r FROM nh),
h1 AS (
  SELECT n.node, (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
           + CAST(0.85 AS DOUBLE) * coalesce(s.m, CAST(0 AS DOUBLE)) AS r
  FROM nh n LEFT JOIN (
    SELECT e.dst AS node, sum(h0.r / o.d) AS m
    FROM eh e JOIN h0 ON h0.node = e.src JOIN oh o ON o.src = e.src
    GROUP BY e.dst) s ON s.node = n.node
),
h2 AS (
  SELECT n.node, (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
           + CAST(0.85 AS DOUBLE) * coalesce(s.m, CAST(0 AS DOUBLE)) AS r
  FROM nh n LEFT JOIN (
    SELECT e.dst AS node, sum(h1.r / o.d) AS m
    FROM eh e JOIN h1 ON h1.node = e.src JOIN oh o ON o.src = e.src
    GROUP BY e.dst) s ON s.node = n.node
),
init AS (
  SELECT n.node, coalesce(h2.r, CAST(1 AS DOUBLE)) AS r
  FROM nf n LEFT JOIN h2 ON h2.node = n.node
),
w1 AS (
  SELECT n.node, (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
           + CAST(0.85 AS DOUBLE) * coalesce(s.m, CAST(0 AS DOUBLE)) AS r
  FROM nf n LEFT JOIN (
    SELECT e.dst AS node, sum(i.r / o.d) AS m
    FROM ef e JOIN init i ON i.node = e.src JOIN odf o ON o.src = e.src
    GROUP BY e.dst) s ON s.node = n.node
)
SELECT node, CAST(floor(r * 1000000 + 0.5) AS BIGINT) AS rank_x1e6 FROM w1
"""

def q_graph_coarsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One METIS-style coarsening level over the trade graph: contract the
    locally-dominant matching's pairs (strongest lanes pair first), remap
    endpoints, drop intra-pair loops, merge parallel edges with exact
    weight sums. The oracle replays the full 13-round matching and the
    contraction algebra."""
    from chronographer_spark.operators.graph_algos import coarsen_graph, greedy_matching

    e = _trade_edges(spark, sf_dir)
    inv = e.select("u", "v", (F.lit(2_000_000_000) - F.col("w")).alias("w"))
    m = greedy_matching(inv, max_rounds=13).select("u", "v")
    return coarsen_graph(e, m)

GRAPH_COARSEN_SQL = f"""
WITH {TRADE_EDGES_FRAGMENT}{_matching_rounds_sql(13)},
mp AS (
  SELECT u AS node, least(u, v) AS s FROM m13
  UNION ALL
  SELECT v AS node, least(u, v) AS s FROM m13
),
re AS (
  SELECT coalesce(mu.s, e.u) AS su, coalesce(mv.s, e.v) AS sv, e.w
  FROM ed e
  LEFT JOIN mp mu ON mu.node = e.u
  LEFT JOIN mp mv ON mv.node = e.v
)
SELECT least(su, sv) AS cu, greatest(su, sv) AS cv,
       CAST(sum(w) AS BIGINT) AS w_sum,
       CAST(count(*) AS BIGINT) AS n_merged
FROM re WHERE su <> sv GROUP BY 1, 2
"""

def q_multilevel_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multilevel partitioning loop end-to-end (METIS shape): contract
    the locally-dominant matching of the trade graph, run 2-round
    deterministic label propagation on the COARSE graph (nationkey ids —
    LP's numeric tie-break), then project the coarse labels back through
    the matching to every original node. Matched pairs inherit one label
    by construction — the invariant multilevel partitioning exists for.
    The oracle replays matching, contraction, both LP rounds, and the
    projection."""
    from chronographer_spark.operators.graph_algos import (
        coarsen_graph,
        greedy_matching,
        label_propagation,
    )

    ed = _trade_edges(spark, sf_dir)
    nk = _t(spark, sf_dir, "nation").select(
        F.col("n_name").alias("name"),
        F.col("n_nationkey").cast("long").alias("k"),
    ).localCheckpoint(eager=True)
    inv = ed.select("u", "v", (F.lit(2_000_000_000) - F.col("w")).alias("w"))
    m = greedy_matching(inv, max_rounds=13).select("u", "v")
    coarse = coarsen_graph(ed, m)
    cek = (
        coarse.join(
            F.broadcast(nk.select(F.col("name").alias("cu"), F.col("k").alias("src"))),
            "cu",
        )
        .join(
            F.broadcast(nk.select(F.col("name").alias("cv"), F.col("k").alias("dst"))),
            "cv",
        )
        .select("src", "dst")
    )
    lp = label_propagation(cek, iterations=2)
    mp = (
        m.select(F.col("u").alias("node"), F.least("u", "v").alias("s"))
        .unionByName(
            m.select(F.col("v").alias("node"), F.least("u", "v").alias("s"))
        )
    )
    nodes = (
        ed.select(F.col("u").alias("node"))
        .unionByName(ed.select(F.col("v").alias("node")))
        .distinct()
    )
    assigned = (
        nodes.join(F.broadcast(mp), "node", "left")
        .select("node", F.coalesce("s", F.col("node")).alias("super"))
        .join(
            F.broadcast(nk.select(F.col("name").alias("super"), F.col("k").alias("sk"))),
            "super",
        )
        .join(
            F.broadcast(lp.select(F.col("node").alias("sk"), F.col("label").alias("lbl"))),
            "sk",
            "left",
        )
        .select(
            "node", F.coalesce("lbl", F.col("sk")).cast("long").alias("part")
        )
    )
    return assigned

MULTILEVEL_PARTITION_SQL = f"""
WITH {TRADE_EDGES_FRAGMENT}{_matching_rounds_sql(13)},
mp AS (
  SELECT u AS node, least(u, v) AS s FROM m13
  UNION ALL
  SELECT v AS node, least(u, v) AS s FROM m13
),
re AS (
  SELECT coalesce(mu.s, e.u) AS su, coalesce(mv.s, e.v) AS sv
  FROM ed e
  LEFT JOIN mp mu ON mu.node = e.u
  LEFT JOIN mp mv ON mv.node = e.v
),
ce AS (
  SELECT DISTINCT least(su, sv) AS cu, greatest(su, sv) AS cv
  FROM re WHERE su <> sv
),
nk AS (SELECT n_name AS name, CAST(n_nationkey AS BIGINT) AS k FROM nation),
cek AS (
  SELECT a.k AS src, b.k AS dst
  FROM ce JOIN nk a ON ce.cu = a.name JOIN nk b ON ce.cv = b.name
),
sym AS (SELECT src, dst FROM cek UNION ALL SELECT dst AS src, src AS dst FROM cek),
cn AS (SELECT DISTINCT src AS node FROM sym),
l0 AS (SELECT node, node AS label FROM cn),
v1 AS (
  SELECT s.dst AS node, l.label, count(*) AS c
  FROM sym s JOIN l0 l ON s.src = l.node GROUP BY 1, 2
),
p1 AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC)
             AS rn
    FROM v1) WHERE rn = 1
),
l1 AS (
  SELECT n.node, coalesce(p.label, n.node) AS label
  FROM cn n LEFT JOIN p1 p USING (node)
),
v2 AS (
  SELECT s.dst AS node, l.label, count(*) AS c
  FROM sym s JOIN l1 l ON s.src = l.node GROUP BY 1, 2
),
p2 AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC)
             AS rn
    FROM v2) WHERE rn = 1
),
lp AS (
  SELECT n.node, coalesce(p.label, n.node) AS label
  FROM cn n LEFT JOIN p2 p USING (node)
),
orig AS (
  SELECT DISTINCT node FROM (
    SELECT u AS node FROM ed UNION ALL SELECT v AS node FROM ed
  )
)
SELECT o.node,
       CAST(coalesce(lp.label, snk.k) AS BIGINT) AS part
FROM orig o
LEFT JOIN mp ON mp.node = o.node
JOIN nk snk ON snk.name = coalesce(mp.s, o.node)
LEFT JOIN lp ON lp.node = snk.k
"""

def q_newman_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the REGION partition over the nation trade
    graph — scores a metadata labeling against the graph's actual cut
    structure with the exact-integer Q = Σ(4m·e_c − d_c²)/(4m²)
    evaluator. The trade graph is near-complete at this scale, so the
    5-way region partition reads Q ≈ −(1/5 − small): a faithful
    "this labeling does not match the topology" readout the
    label-propagation composition is compared against in tests."""
    from chronographer_spark.operators.graph_algos import modularity_score

    e = _trade_edges(spark, sf_dir)
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    lab = n.join(
        F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]
    ).select(F.col("n_name").alias("node"), F.col("r_name").alias("label"))
    return modularity_score(e, lab, src="u", dst="v")

NEWMAN_MODULARITY_SQL = f"""
WITH {TRADE_EDGES_FRAGMENT},
ue AS (
  SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v FROM ed WHERE u <> v
),
lab AS (
  SELECT n_name AS node, r_name AS label
  FROM nation JOIN region ON n_regionkey = r_regionkey
),
deg AS (
  SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT u AS n FROM ue UNION ALL SELECT v AS n FROM ue
  ) GROUP BY n
),
dc AS (
  SELECT coalesce(lab.label, '__unlabeled__') AS l,
         CAST(sum(deg.d) AS BIGINT) AS dc
  FROM deg LEFT JOIN lab ON deg.n = lab.node
  GROUP BY 1
),
ec AS (
  SELECT coalesce(lu.label, '__unlabeled__') AS l,
         CAST(count(*) AS BIGINT) AS ec
  FROM ue
  LEFT JOIN lab lu ON ue.u = lu.node
  LEFT JOIN lab lv ON ue.v = lv.node
  WHERE coalesce(lu.label, '__unlabeled__')
          = coalesce(lv.label, '__unlabeled__')
  GROUP BY 1
),
m1 AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ue),
per AS (
  SELECT m1.m,
         4 * m1.m * coalesce(ec.ec, 0) - dc.dc * dc.dc AS num,
         coalesce(ec.ec, 0) AS ec
  FROM dc LEFT JOIN ec ON dc.l = ec.l CROSS JOIN m1
),
agg AS (
  SELECT m, CAST(count(*) AS BIGINT) AS n_comms,
         CAST(sum(ec) AS BIGINT) AS intra_edges,
         CAST(sum(num) AS BIGINT) AS num
  FROM per GROUP BY m
)
SELECT m, n_comms, intra_edges, num,
       CAST(num // (4 * m * m) * CAST(1000000 AS BIGINT)
            + num % (4 * m * m) * CAST(1000000 AS BIGINT)
              // (4 * m * m) AS BIGINT) AS q_x1e6
FROM agg
"""

def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the divide-lattice DAG viewed as an
    undirected graph — a tree-like hub-and-spoke topology (every k feeds
    k DIV 2 / k DIV 3, so low ids are hubs fed by leaves) that reads
    clearly NEGATIVE: the disassortativity monitor a KG runs on its
    alias graph to detect hub growth before the skewed joins hurt."""
    from chronographer_spark.operators.graph_algos import assortativity_coefficient

    return assortativity_coefficient(_divide_dag_edges(spark, sf_dir))

DEGREE_ASSORTATIVITY_SQL = """
WITH nodes AS (
  SELECT CAST(c_custkey AS BIGINT) AS k FROM customer WHERE c_custkey >= 1
),
edges AS (
  SELECT k AS src, k // 2 AS dst FROM nodes WHERE k >= 2
  UNION ALL
  SELECT k AS src, k // 3 AS dst FROM nodes WHERE k >= 3 AND k // 3 <> k // 2
),
ue AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM edges WHERE src <> dst
),
deg AS (
  SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT u AS n FROM ue UNION ALL SELECT v AS n FROM ue
  ) GROUP BY n
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg),
sym AS (SELECT u, v FROM ue UNION ALL SELECT v, u FROM ue),
rolled AS (
  SELECT CAST(count(*) // 2 AS BIGINT) AS m,
         CAST(count(*) AS BIGINT) AS mm,
         CAST(sum(du.d) AS BIGINT) AS s,
         CAST(sum(du.d * dv.d) AS BIGINT) AS sxy,
         CAST(sum(du.d * du.d) AS BIGINT) AS sxx
  FROM sym JOIN deg du ON sym.u = du.n JOIN deg dv ON sym.v = dv.n
),
fin AS (
  SELECT m, nn.n_nodes,
         CAST(mm * sxy - s * s AS BIGINT) AS num,
         CAST(mm * sxx - s * s AS BIGINT) AS den
  FROM rolled CROSS JOIN nn
)
SELECT m, n_nodes, num, den,
       CASE WHEN den = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
                 * (abs(num) // den * CAST(1000000 AS BIGINT)
                    + abs(num) % den * CAST(1000000 AS BIGINT) // den)
                 AS BIGINT) END AS r_x1e6
FROM fin
"""

# ---------------------------------------------------------------------------
# Q: degree-discount influence maximization seeds over the divide lattice
# ---------------------------------------------------------------------------


def q_influence_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-discount influence-maximization seeds (Chen et al. KDD'09)
    on the undirected divide-lattice: 6 seeds at p = 1/10, exact-integer
    discounted-degree scores, ties pinned to the smallest node. The
    oracle replays the identical 6 driver rounds as a recursive CTE
    carrying the picked list (arg_max over a score*2^31 - node key —
    window functions inside LATERAL are chunk-local in DuckDB and were
    measured non-deterministic; the encoded-key argmax is not)."""
    from chronographer_spark.operators.graph_algos import influence_seeds

    return influence_seeds(
        _divide_dag_edges(spark, sf_dir), k=6, p_num=1, p_den=10
    )

INFLUENCE_SEEDS_SQL = """
WITH RECURSIVE nodes AS (
  SELECT CAST(c_custkey AS BIGINT) AS k FROM customer WHERE c_custkey >= 1
),
ed AS (
  SELECT k AS src, k // 2 AS dst FROM nodes WHERE k >= 2
  UNION ALL
  SELECT k, k // 3 FROM nodes WHERE k >= 3 AND k // 3 <> k // 2
),
sym AS MATERIALIZED (
  SELECT DISTINCT u, v FROM (
    SELECT src AS u, dst AS v FROM ed WHERE src <> dst
    UNION ALL
    SELECT dst, src FROM ed WHERE src <> dst
  )
),
deg AS MATERIALIZED (
  SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY u
),
sel AS (
  SELECT 0 AS r, CAST([] AS BIGINT[]) AS picked, CAST([] AS BIGINT[]) AS scores
  UNION ALL
  SELECT sel.r + 1,
         list_append(sel.picked, cand.bn),
         list_append(sel.scores, (cand.mk + cand.bn) // 2147483648)
  FROM sel, LATERAL (
    SELECT arg_max(node, key) AS bn, max(key) AS mk FROM (
      SELECT d.node,
             (d.d * 10 - 2 * tt.t * 10 - (d.d - tt.t) * tt.t * 1)
               * 2147483648 - d.node AS key
      FROM deg d,
      LATERAL (SELECT CAST(coalesce((
          SELECT count(*) FROM sym
          WHERE sym.u = d.node AND list_contains(sel.picked, sym.v)), 0)
        AS BIGINT) AS t) tt
      WHERE NOT list_contains(sel.picked, d.node)
    )
  ) cand
  WHERE sel.r < 6
)
SELECT CAST(unnest(range(1, 7)) AS BIGINT) AS rnk,
       unnest(picked) AS node, unnest(scores) AS score
FROM sel WHERE r = 6
"""

# ---------------------------------------------------------------------------
# Q: one synchronous Louvain local-moving round over the divide lattice
# ---------------------------------------------------------------------------


def q_louvain_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One synchronous Louvain phase-1 round from the arbitrary 64-block
    id partition of the divide lattice: every node takes its best
    strictly-positive exact-integer modularity gain w.r.t. the old
    labeling (ties to the smallest community label) — the greedy
    refinement step that feeds modularity_score. The lattice's k->k/2
    edges mostly CROSS the block partition, so the readout shows heavy
    movement — an honest 'metadata partition does not match topology'
    input, same family as newman_modularity's negative Q."""
    from chronographer_spark.operators.graph_algos import louvain_move_round

    e = _divide_dag_edges(spark, sf_dir)
    nodes = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") >= 1)
        .select(F.col("c_custkey").cast("long").alias("node"))
    )
    lab = nodes.select(
        "node", F.expr("CAST(node DIV 64 AS STRING)").alias("label")
    )
    return louvain_move_round(e, lab)

LOUVAIN_ROUND_SQL = """
WITH nodes AS (
  SELECT CAST(c_custkey AS BIGINT) AS n FROM customer WHERE c_custkey >= 1
),
ed AS (
  SELECT n AS src, n // 2 AS dst FROM nodes WHERE n >= 2
  UNION ALL
  SELECT n, n // 3 FROM nodes WHERE n >= 3 AND n // 3 <> n // 2
),
ue AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM ed WHERE src <> dst
),
sym AS (SELECT u, v FROM ue UNION ALL SELECT v AS u, u AS v FROM ue),
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS k FROM sym GROUP BY u),
lab AS (SELECT u, CAST(u // 64 AS VARCHAR) AS lbl FROM deg),
mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ue),
sig AS (
  SELECT lbl, CAST(sum(k) AS BIGINT) AS sig
  FROM deg JOIN lab USING (u) GROUP BY lbl
),
kic AS (
  SELECT s.u, lb.lbl AS c, CAST(count(*) AS BIGINT) AS kic
  FROM sym s JOIN lab lb ON s.v = lb.u GROUP BY s.u, lb.lbl
),
own AS (
  SELECT deg.u, deg.k, lab.lbl AS old_label,
         coalesce(ka.kic, 0) AS kia
  FROM deg JOIN lab USING (u)
  LEFT JOIN kic ka ON ka.u = deg.u AND ka.c = lab.lbl
),
cand AS (
  SELECT own.u, own.old_label, kic.c,
         CAST(4 * mm.m * (kic.kic - own.kia)
              - 2 * own.k * (sc.sig - sa.sig + own.k) AS BIGINT) AS gain_x
  FROM own
  JOIN kic ON kic.u = own.u AND kic.c <> own.old_label
  JOIN sig sc ON sc.lbl = kic.c
  JOIN sig sa ON sa.lbl = own.old_label
  CROSS JOIN mm
),
best AS (
  SELECT u, c AS new_label, gain_x,
         row_number() OVER (
           PARTITION BY u ORDER BY gain_x DESC, c ASC) AS rn
  FROM cand
)
SELECT own.u AS node, own.old_label,
       CASE WHEN b.gain_x > 0 THEN b.new_label ELSE own.old_label END
         AS new_label,
       CAST(CASE WHEN b.gain_x > 0 THEN b.gain_x ELSE 0 END AS BIGINT)
         AS gain_x
FROM own LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.u = own.u
"""

# ---------------------------------------------------------------------------
# Q: TrustRank spam mass — global PR vs trusted-seed PPR on one graph
# ---------------------------------------------------------------------------


def q_spam_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank spam-mass estimate (Gyongyi, Garcia-Molina & Pedersen
    2004): how much of a node's PageRank is NOT accounted for by trust
    flowing from known-good seeds — spam_mass = (PR - min(N*TR, PR))/PR
    with TR the seed-personalized PageRank scaled by node count (both 2
    pinned rounds on the SAME symmetrized order<->customer<->nation
    graph, seeds c0/c1). Nodes near the seeds read ~0, nodes the trust
    walk cannot reach in 2 hops read 1e6 — the triage a KG ingestion
    runs before admitting a new subgraph. Final arithmetic on the
    1e6-snapped integers (the cross-engine float rule), staged quotient."""
    from chronographer_spark.operators.graph_algos import pagerank, personalized_pagerank

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    e1 = orders.select(
        F.concat(F.lit("o"), F.col("o_orderkey").cast("string")).alias("src"),
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("dst"),
    )
    e2 = cust.select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("src"),
        F.concat(F.lit("n"), F.col("c_nationkey").cast("string")).alias("dst"),
    )
    e = e1.unionByName(e2)
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    pr = pagerank(sym, damping=0.85, iterations=2).select(
        "node",
        F.floor(F.col("rank") * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("pr_x1e6"),
    )
    tr = personalized_pagerank(sym, seeds=["c0", "c1"], iterations=2).select(
        "node",
        F.floor(F.col("rank") * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("tr_x1e6"),
    )
    nn = sym.select(F.col("src").alias("node")).unionByName(
        sym.select(F.col("dst").alias("node"))
    ).dropDuplicates().agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    return (
        pr.join(tr, "node", "left")
        .crossJoin(F.broadcast(nn))
        .select(
            "node",
            "pr_x1e6",
            F.coalesce("tr_x1e6", F.lit(0)).cast("long").alias("tr_x1e6"),
            F.expr(
                "CASE WHEN pr_x1e6 > 0 THEN"
                " (pr_x1e6 - least(coalesce(tr_x1e6, 0) * n_nodes, pr_x1e6))"
                " * CAST(1000000 AS BIGINT) DIV pr_x1e6"
                " ELSE CAST(1000000 AS BIGINT) END"
            ).alias("spam_mass_x1e6"),
        )
    )

SPAM_MASS_SQL = """
WITH e0 AS (
  SELECT 'o' || CAST(o_orderkey AS VARCHAR) AS src,
         'c' || CAST(o_custkey AS VARCHAR) AS dst
  FROM orders
  UNION ALL
  SELECT 'c' || CAST(c_custkey AS VARCHAR),
         'n' || CAST(c_nationkey AS VARCHAR)
  FROM customer
),
e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
nodes AS (
  SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
),
outdeg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
r0 AS (SELECT node, 1.0 AS r FROM nodes),
r1 AS (
  SELECT n.node, (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
           + CAST(0.85 AS DOUBLE) * coalesce(s.m, CAST(0 AS DOUBLE)) AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, sum(r0.r / o.d) AS m
    FROM e JOIN r0 ON r0.node = e.src JOIN outdeg o ON o.src = e.src
    GROUP BY e.dst) s ON s.node = n.node
),
r2 AS (
  SELECT n.node, (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
           + CAST(0.85 AS DOUBLE) * coalesce(s.m, CAST(0 AS DOUBLE)) AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, sum(r1.r / o.d) AS m
    FROM e JOIN r1 ON r1.node = e.src JOIN outdeg o ON o.src = e.src
    GROUP BY e.dst) s ON s.node = n.node
),
seeds AS (SELECT 'c0' AS node, CAST(0.5 AS DOUBLE) AS p
          UNION ALL SELECT 'c1', CAST(0.5 AS DOUBLE)),
t0 AS (SELECT node, p AS rank FROM seeds),
tc1 AS (
  SELECT e.dst AS node, sum(r.rank / o.d) AS m
  FROM e JOIN t0 r ON e.src = r.node JOIN outdeg o ON o.src = e.src
  GROUP BY e.dst
),
t1 AS (
  SELECT coalesce(c.node, s.node) AS node,
         (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
             * coalesce(s.p, CAST(0 AS DOUBLE))
           + CAST(0.85 AS DOUBLE) * coalesce(c.m, CAST(0 AS DOUBLE)) AS rank
  FROM tc1 c FULL JOIN seeds s ON c.node = s.node
),
tc2 AS (
  SELECT e.dst AS node, sum(r.rank / o.d) AS m
  FROM e JOIN t1 r ON e.src = r.node JOIN outdeg o ON o.src = e.src
  GROUP BY e.dst
),
t2 AS (
  SELECT coalesce(c.node, s.node) AS node,
         (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
             * coalesce(s.p, CAST(0 AS DOUBLE))
           + CAST(0.85 AS DOUBLE) * coalesce(c.m, CAST(0 AS DOUBLE)) AS rank
  FROM tc2 c FULL JOIN seeds s ON c.node = s.node
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM nodes),
pri AS (
  SELECT node, CAST(floor(r * 1000000 + 0.5) AS BIGINT) AS pr_x1e6 FROM r2
),
tri AS (
  SELECT node, CAST(floor(rank * 1000000 + 0.5) AS BIGINT) AS tr_x1e6 FROM t2
)
SELECT pri.node, pri.pr_x1e6,
       CAST(coalesce(tri.tr_x1e6, 0) AS BIGINT) AS tr_x1e6,
       CAST(CASE WHEN pri.pr_x1e6 > 0 THEN
         (pri.pr_x1e6 - least(coalesce(tri.tr_x1e6, 0) * nn.n_nodes,
                              pri.pr_x1e6))
         * CAST(1000000 AS BIGINT) // pri.pr_x1e6
       ELSE 1000000 END AS BIGINT) AS spam_mass_x1e6
FROM pri LEFT JOIN tri ON pri.node = tri.node CROSS JOIN nn
"""

# ---------------------------------------------------------------------------
# Q: eigenvector centrality / MMR re-rank / Heaps'-law vocabulary growth
# ---------------------------------------------------------------------------


def q_eigencentrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round max-normalized integer power iteration
    (graph_algos.eigenvector_centrality) over the symmetrized
    user<->event-type bipartite graph — the handful of event-type hub
    nodes dominate, exactly the shape eigenvector centrality surfaces."""
    from chronographer_spark.operators.graph_algos import eigenvector_centrality

    ev = _t(spark, sf_dir, "events")
    b = ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("a"),
        F.concat(F.lit("t"), F.col("event_type")).alias("bb"),
    ).distinct()
    edges = b.select(F.col("a").alias("src"), F.col("bb").alias("dst")).union(
        b.select(F.col("bb").alias("src"), F.col("a").alias("dst"))
    )
    return eigenvector_centrality(edges, rounds=3)

EIGENCENTRALITY_SQL = """
WITH b AS (SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS a,
                  't' || event_type AS bb
           FROM events),
edges AS (SELECT a AS src, bb AS dst FROM b
          UNION ALL SELECT bb, a FROM b),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
r0 AS (SELECT node, CAST(1048576 AS BIGINT) AS score FROM nodes),
s1 AS (SELECT e.dst AS node, CAST(sum(r.score) AS BIGINT) AS s
       FROM edges e JOIN r0 r ON r.node = e.src GROUP BY e.dst),
n1 AS (SELECT n.node, CAST(coalesce(s.s, 0) AS BIGINT) AS s
       FROM nodes n LEFT JOIN s1 s USING (node)),
m1 AS (SELECT max(s) AS mx FROM n1),
r1 AS (SELECT node, CAST(s * 1048576 // greatest(mx, 1) AS BIGINT) AS score
       FROM n1, m1),
s2 AS (SELECT e.dst AS node, CAST(sum(r.score) AS BIGINT) AS s
       FROM edges e JOIN r1 r ON r.node = e.src GROUP BY e.dst),
n2 AS (SELECT n.node, CAST(coalesce(s.s, 0) AS BIGINT) AS s
       FROM nodes n LEFT JOIN s2 s USING (node)),
m2 AS (SELECT max(s) AS mx FROM n2),
r2 AS (SELECT node, CAST(s * 1048576 // greatest(mx, 1) AS BIGINT) AS score
       FROM n2, m2),
s3 AS (SELECT e.dst AS node, CAST(sum(r.score) AS BIGINT) AS s
       FROM edges e JOIN r2 r ON r.node = e.src GROUP BY e.dst),
n3 AS (SELECT n.node, CAST(coalesce(s.s, 0) AS BIGINT) AS s
       FROM nodes n LEFT JOIN s3 s USING (node)),
m3 AS (SELECT max(s) AS mx FROM n3)
SELECT node, CAST(s * 1048576 // greatest(mx, 1) AS BIGINT) AS score
FROM n3, m3
"""

# ---------------------------------------------------------------------------
# Q: double-sweep diameter lower bound on the divide lattice
# ---------------------------------------------------------------------------


def q_diameter_lattice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-sweep BFS diameter lower bound
    (graph_algos.double_sweep_diameter) on the symmetrized divide
    lattice — pinned seeds, O(diameter) frontier rounds; the exact
    companion to HyperBall."""
    from chronographer_spark.operators.graph_algos import double_sweep_diameter

    return double_sweep_diameter(_divide_dag_edges(spark, sf_dir))

DIAMETER_LATTICE_SQL = """
WITH RECURSIVE und AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM (
      SELECT CAST(c_custkey AS BIGINT) AS src,
             CAST(c_custkey // 2 AS BIGINT) AS dst
      FROM customer WHERE c_custkey >= 2
      UNION ALL
      SELECT CAST(c_custkey AS BIGINT), CAST(c_custkey // 3 AS BIGINT)
      FROM customer WHERE c_custkey >= 3
        AND c_custkey // 3 <> c_custkey // 2
    )
    UNION ALL
    SELECT dst, src FROM (
      SELECT CAST(c_custkey AS BIGINT) AS src,
             CAST(c_custkey // 2 AS BIGINT) AS dst
      FROM customer WHERE c_custkey >= 2
      UNION ALL
      SELECT CAST(c_custkey AS BIGINT), CAST(c_custkey // 3 AS BIGINT)
      FROM customer WHERE c_custkey >= 3
        AND c_custkey // 3 <> c_custkey // 2
    )
  )
),
s1 AS (SELECT min(src) AS seed FROM und),
walk1 AS (
  SELECT seed AS node, CAST(0 AS BIGINT) AS d FROM s1
  UNION
  SELECT u.dst, w.d + 1
  FROM walk1 w JOIN und u ON u.src = w.node
  WHERE w.d < 32
),
dist1 AS (SELECT node, CAST(min(d) AS BIGINT) AS d FROM walk1 GROUP BY node),
far AS (SELECT node AS seed2, d AS ecc1 FROM dist1
        ORDER BY d DESC, node ASC LIMIT 1),
walk2 AS (
  SELECT seed2 AS node, CAST(0 AS BIGINT) AS d FROM far
  UNION
  SELECT u.dst, w.d + 1
  FROM walk2 w JOIN und u ON u.src = w.node
  WHERE w.d < 32
),
dist2 AS (SELECT node, CAST(min(d) AS BIGINT) AS d FROM walk2 GROUP BY node)
SELECT (SELECT CAST(seed AS BIGINT) FROM s1) AS seed1,
       (SELECT CAST(seed2 AS BIGINT) FROM far) AS seed2,
       (SELECT CAST(ecc1 AS BIGINT) FROM far) AS ecc1,
       CAST(max(d) AS BIGINT) AS diameter_lb
FROM dist2
"""

QUERIES = {
    "diameter_lattice": q_diameter_lattice,
    "eigencentrality_bipartite": q_eigencentrality,
    "spam_mass": q_spam_mass,
    "louvain_round": q_louvain_round,
    "influence_seeds": q_influence_seeds,
    "degree_assortativity": q_degree_assortativity,
    "newman_modularity": q_newman_modularity,
    "apply_referents": q_apply_referents,
    "transitive_closure": q_transitive_closure,
    "n_hop_neighbors": q_n_hop_neighbors,
    "pagerank_2iter": q_pagerank_2iter,
    "pagerank_dangling": q_pagerank_dangling,
    "quality_score": q_quality_score,
    "cc_canonical": q_cc_canonical,
    "cc_canonical_agg": q_cc_canonical_agg,
    "k_core_users": q_k_core,
    "neighborhood_overlap": q_neighborhood_overlap,
    "random_walks_3step": q_random_walks,
    "walk_skipgrams": q_walk_skipgrams,
    "negative_samples": q_negative_samples,
    "metapath_counts": q_metapath_counts,
    "degree_histogram": q_degree_histogram,
    "er_fuse_pipeline": q_er_fuse_pipeline,
    "er_clustering_eval": q_er_clustering_eval,
    "ssl_labels": q_ssl_labels,
    "hyperball_balls": q_hyperball,
    "bfs_landmarks": q_bfs_landmarks,
    "ppr_seeds": q_ppr_seeds,
    "luby_mis_2round": q_luby_mis,
    "clustering_coef": q_clustering_coef,
    "neighborhood_function": q_neighborhood_function,
    "k_truss_edges": q_k_truss,
    "event_coreference": q_event_coreference,
    "community_stats": q_community_stats,
    "fuzzy_canonical_vocab": q_fuzzy_canonical_vocab,
    "label_propagation": q_label_propagation,
    "triangle_count": q_triangle_count,
    "gold_graph": q_gold_graph,
    "near_dup_clusters": q_near_dup_clusters,
    "scc_nations": q_scc_nations,
    "scc_nations_direct": q_scc_nations_direct,
    "sssp_nations": q_sssp_nations,
    "hits_nations": q_hits_nations,
    "modularity_regions": q_modularity_regions,
    "harmonic_closeness": q_harmonic_closeness,
    "reciprocity_trade": q_reciprocity_trade,
    "feature_propagation": q_feature_propagation,
    "pagerank_weighted": q_pagerank_weighted,
    "ra_linkpred": q_ra_linkpred,
    "assortativity": q_assortativity,
    "wl_classes": q_wl_classes,
    "densest_rounds": q_densest_rounds,
    "percolation": q_percolation,
    "rich_club": q_rich_club,
    "stress_centrality": q_stress_centrality,
    "mst_trade": q_mst_trade,
    "matching_trade": q_matching_trade,
    "simrank_trade": q_simrank_trade,
    "aa_linkpred": q_aa_linkpred,
    "trade_embeddedness": q_trade_embeddedness,
    "katz_tools": q_katz_tools,
    "dag_path_stats": q_dag_path_stats,
    "dag_depth_hist": q_dag_depth_hist,
    "incremental_cc": q_incremental_cc,
    "incremental_cc_delta": q_incremental_cc_delta,
    "node2vec_walks": q_node2vec_walks,
    "pagerank_warm_resume": q_pagerank_warm_resume,
    "graph_coarsen": q_graph_coarsen,
    "multilevel_partition": q_multilevel_partition,
}

ORACLE_SQL = {
    "diameter_lattice": DIAMETER_LATTICE_SQL,
    "eigencentrality_bipartite": EIGENCENTRALITY_SQL,
    "spam_mass": SPAM_MASS_SQL,
    "louvain_round": LOUVAIN_ROUND_SQL,
    "influence_seeds": INFLUENCE_SEEDS_SQL,
    "degree_assortativity": DEGREE_ASSORTATIVITY_SQL,
    "newman_modularity": NEWMAN_MODULARITY_SQL,
    "apply_referents": APPLY_REFERENTS_SQL,
    "transitive_closure": TRANSITIVE_SQL,
    "n_hop_neighbors": N_HOP_SQL,
    "pagerank_2iter": PAGERANK_SQL,
    "pagerank_dangling": PAGERANK_DANGLING_SQL,
    "quality_score": QUALITY_SQL,
    "cc_canonical": CC_SQL,
    "cc_canonical_agg": CC_SQL,
    "k_core_users": K_CORE_SQL,
    "neighborhood_overlap": NEIGHBORHOOD_OVERLAP_SQL,
    "random_walks_3step": RANDOM_WALKS_SQL,
    "walk_skipgrams": WALK_SKIPGRAMS_SQL,
    "negative_samples": NEGATIVE_SAMPLES_SQL,
    "metapath_counts": METAPATH_SQL,
    "degree_histogram": DEGREE_HIST_SQL,
    "er_fuse_pipeline": ER_FUSE_PIPELINE_SQL,
    "er_clustering_eval": ER_CLUSTERING_EVAL_SQL,
    "ssl_labels": SSL_LABELS_SQL,
    "hyperball_balls": HYPERBALL_SQL,
    "bfs_landmarks": BFS_LANDMARKS_SQL,
    "ppr_seeds": PPR_SEEDS_SQL,
    "luby_mis_2round": LUBY_MIS_SQL,
    "clustering_coef": CLUSTERING_COEF_SQL,
    "neighborhood_function": NEIGHBORHOOD_FN_SQL,
    "k_truss_edges": KTRUSS_SQL,
    "event_coreference": EVENT_COREF_SQL,
    "community_stats": COMMUNITY_STATS_SQL,
    "fuzzy_canonical_vocab": FUZZY_CANONICAL_SQL,
    "label_propagation": LABEL_PROP_SQL,
    "triangle_count": TRIANGLE_SQL,
    "gold_graph": GOLD_GRAPH_SQL,
    "near_dup_clusters": NEAR_DUP_CLUSTERS_SQL,
    "scc_nations": SCC_NATIONS_SQL,
    "scc_nations_direct": SCC_NATIONS_SQL,
    "sssp_nations": SSSP_NATIONS_SQL,
    "hits_nations": HITS_NATIONS_SQL,
    "modularity_regions": MODULARITY_REGIONS_SQL,
    "harmonic_closeness": HARMONIC_CLOSENESS_SQL,
    "reciprocity_trade": RECIPROCITY_TRADE_SQL,
    "feature_propagation": FEATURE_PROP_SQL,
    "pagerank_weighted": PAGERANK_WEIGHTED_SQL,
    "ra_linkpred": RA_LINKPRED_SQL,
    "assortativity": ASSORTATIVITY_SQL,
    "wl_classes": WL_CLASSES_SQL,
    "densest_rounds": DENSEST_ROUNDS_SQL,
    "percolation": PERCOLATION_SQL,
    "rich_club": RICH_CLUB_SQL,
    "stress_centrality": STRESS_CENTRALITY_SQL,
    "mst_trade": MST_TRADE_SQL,
    "matching_trade": MATCHING_TRADE_SQL,
    "simrank_trade": SIMRANK_TRADE_SQL,
    "aa_linkpred": AA_LINKPRED_SQL,
    "trade_embeddedness": TRADE_EMBEDDEDNESS_SQL,
    "katz_tools": KATZ_TOOLS_SQL,
    "dag_path_stats": DAG_PATH_STATS_SQL,
    "dag_depth_hist": DAG_DEPTH_HIST_SQL,
    "incremental_cc": INCREMENTAL_CC_SQL,
    "incremental_cc_delta": INCREMENTAL_CC_DELTA_SQL,
    "node2vec_walks": NODE2VEC_WALKS_SQL,
    "pagerank_warm_resume": PAGERANK_WARM_SQL,
    "graph_coarsen": GRAPH_COARSEN_SQL,
    "multilevel_partition": MULTILEVEL_PARTITION_SQL,
}
