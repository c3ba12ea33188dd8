"""Core scan/filter/search/KG-pipeline queries."""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from chronographer_spark.data.transcripts import transcripts_from_events
from chronographer_spark.extraction.mentions import extract_mentions
from chronographer_spark.graph.materialize import materialize_event_graph

from ._shared import (
    FLAGSHIP_SQL,
    TX_SQL,
    _flagship_triples,
    _t,
)

# ---------------------------------------------------------------------------
# Q: flagship — full transcript -> SEM event graph (extraction UDF + emission)
# ---------------------------------------------------------------------------


def q_flagship_event_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chronographer_spark.data.transcripts import conv_string_expr, transcripts_from_events_longkey
    from chronographer_spark.graph.materialize import build_event_graph

    # binary-id hot path (r4): conv key stays a BIGINT through every
    # exchange/window; the 'conv%06d' string appears only in post-shuffle
    # URI projections. Output bit-identical to the string-keyed path
    # (scripts/bench_binids.py check), +6% at 32 cores and one fewer
    # exchange (the user_id ordering partitioning is reused).
    tx = transcripts_from_events_longkey(spark, sf_dir)
    return build_event_graph(tx, conv_expr=conv_string_expr())

# ---------------------------------------------------------------------------
# Q: transcripts view itself (derivation determinism check)
# ---------------------------------------------------------------------------


def q_transcripts_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    return transcripts_from_events(spark, sf_dir).select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
    )

TX_VIEW_SQL = f"""
{TX_SQL}
SELECT conv_id, turn_idx, role, text, tool,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
FROM tx
"""

# ---------------------------------------------------------------------------
# A1: occurrence counting (path popularity)
# ---------------------------------------------------------------------------


def q_occurrence_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(F.count("*").alias("cnt"))

# ---------------------------------------------------------------------------
# J1/J2: frontier expansion join (set-oriented; one hash join per iteration)
# ---------------------------------------------------------------------------


def q_frontier_expand_outgoing(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    frontier = cust.filter(F.col("c_acctbal") > 9000).select("c_custkey")
    triples = orders.select(
        F.concat(F.lit("cust:"), F.col("o_custkey").cast("string")).alias("subject"),
        F.lit("placed").alias("predicate"),
        F.concat(F.lit("order:"), F.col("o_orderkey").cast("string")).alias("object"),
        F.col("o_custkey"),
    )
    # broadcast the small frontier side — no shuffle of the big triple table
    return (
        triples.join(
            F.broadcast(frontier), triples.o_custkey == frontier.c_custkey, "left_semi"
        )
        .select("subject", "predicate", "object")
        .dropDuplicates()
    )

FRONTIER_OUT_SQL = """
SELECT DISTINCT 'cust:' || CAST(o_custkey AS VARCHAR) AS subject,
       'placed' AS predicate,
       'order:' || CAST(o_orderkey AS VARCHAR) AS object
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
"""

# ---------------------------------------------------------------------------
# J3: two-hop specific-outgoing (frontier -> neighbors -> their type/date rows)
# ---------------------------------------------------------------------------


def q_two_hop_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    frontier = cust.filter(F.col("c_acctbal") > 9000).select("c_custkey")
    hop1 = orders.join(
        F.broadcast(frontier), orders.o_custkey == frontier.c_custkey, "inner"
    ).select("o_orderkey", "o_custkey")
    hop2 = li.join(hop1, li.l_orderkey == hop1.o_orderkey, "inner")
    return hop2.groupBy("o_custkey").agg(
        F.count("*").alias("n_lineitems"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )

TWO_HOP_SQL = """
SELECT o.o_custkey AS o_custkey, count(*) AS n_lineitems,
       count(DISTINCT l.l_partkey) AS n_parts
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
GROUP BY o.o_custkey
"""

# ---------------------------------------------------------------------------
# F11/U2: pending-minus-visited anti-join
# ---------------------------------------------------------------------------


def q_anti_join_visited(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    visited = ev.filter(F.col("event_type") == "signup").select("user_id").dropDuplicates()
    return (
        ev.join(visited, "user_id", "left_anti")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
    )

ANTI_JOIN_SQL = """
SELECT user_id, count(*) AS n_events FROM events
WHERE user_id NOT IN (SELECT DISTINCT user_id FROM events WHERE event_type = 'signup')
GROUP BY user_id
"""

# ---------------------------------------------------------------------------
# F5: temporal range discard (string-lexical ISO compare, filtering.py:52-63)
# ---------------------------------------------------------------------------


def q_temporal_discard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # each event is a node with a point-in-time date; discard iff the date
    # falls outside the window — lexical ISO compare, exactly filtering.py:56-63
    ev = _t(spark, sf_dir, "events")
    lo, hi = "2024-03-01", "2024-09-30"
    nodes = ev.select(
        "event_id", F.date_format("ts", "yyyy-MM-dd").alias("point_in_time")
    )
    return nodes.filter(
        (F.col("point_in_time") < F.lit(lo)) | (F.col("point_in_time") > F.lit(hi))
    )

TEMPORAL_DISCARD_SQL = """
SELECT event_id, strftime(ts, '%Y-%m-%d') AS point_in_time FROM events
WHERE strftime(ts, '%Y-%m-%d') < '2024-03-01'
   OR strftime(ts, '%Y-%m-%d') > '2024-09-30'
"""

# ---------------------------------------------------------------------------
# F6: URI-year regex discard (filtering.py:65-97 semantics: extract \d{4},
# default to window-start year, discard outside [start_year, end_year])
# ---------------------------------------------------------------------------


def q_regex_year_discard(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    uris = li.select(
        F.concat(
            F.lit("evt_"), F.date_format("l_shipdate", "yyyy"), F.lit("_item")
        ).alias("uri")
    ).dropDuplicates()
    year = F.coalesce(
        F.nullif(F.regexp_extract("uri", r"(\d{4})", 1), F.lit("")), F.lit("1995")
    )
    return uris.withColumn("year", year).filter(
        (F.col("year") < "1996") | (F.col("year") > "1999")
    )

REGEX_DISCARD_SQL = """
WITH uris AS (
  SELECT DISTINCT 'evt_' || strftime(l_shipdate, '%Y') || '_item' AS uri FROM lineitem
)
SELECT uri, coalesce(nullif(regexp_extract(uri, '(\\d{4})', 1), ''), '1995') AS year
FROM uris
WHERE coalesce(nullif(regexp_extract(uri, '(\\d{4})', 1), ''), '1995') < '1996'
   OR coalesce(nullif(regexp_extract(uri, '(\\d{4})', 1), ''), '1995') > '1999'
"""

# ---------------------------------------------------------------------------
# J4: superclass annotation via broadcast joins (ordering.py:146-174 analog)
# ---------------------------------------------------------------------------


def q_superclass_annotate(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    closure = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select(F.col("n_nationkey"), F.col("n_name"), F.col("r_name"))
    return (
        cust.join(F.broadcast(closure), cust.c_nationkey == closure.n_nationkey)
        .select(
            "c_custkey",
            F.col("n_name").alias("class"),
            F.col("r_name").alias("superclass"),
        )
    )

SUPERCLASS_SQL = """
SELECT c.c_custkey, n.n_name AS class, r.r_name AS superclass
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
"""

# ---------------------------------------------------------------------------
# Window ops (§2.5): lead ordering edges + first-mention dedup
# ---------------------------------------------------------------------------


def q_window_lead_next(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id", "event_id", F.lead("event_id").over(w).alias("next_event_id")
    )

WINDOW_LEAD_SQL = """
SELECT user_id, event_id,
       lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_event_id
FROM events
"""

def q_window_first_mention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id")
    )

WINDOW_FIRST_SQL = """
SELECT user_id, event_type, event_id FROM (
  SELECT user_id, event_type, event_id,
         row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
"""

# ---------------------------------------------------------------------------
# A8: min-start/max-end with end:=start fallback (generic_kb_to_ng.py:152-177)
# ---------------------------------------------------------------------------


def q_minmax_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("user_id").agg(
        F.date_format(
            F.min(F.when(F.col("event_type") == "signup", F.col("ts"))), "yyyy-MM-dd"
        ).alias("begin"),
        F.date_format(
            F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))), "yyyy-MM-dd"
        ).alias("end_raw"),
    )
    return (
        agg.filter(F.col("begin").isNotNull())
        .withColumn("end", F.coalesce("end_raw", "begin"))
        .select("user_id", "begin", "end")
    )

MINMAX_SQL = """
WITH agg AS (
  SELECT user_id,
    strftime(min(CASE WHEN event_type = 'signup' THEN ts END), '%Y-%m-%d') AS begin,
    strftime(max(CASE WHEN event_type = 'purchase' THEN ts END), '%Y-%m-%d') AS end_raw
  FROM events GROUP BY user_id
)
SELECT user_id, begin, coalesce(end_raw, begin) AS "end"
FROM agg WHERE begin IS NOT NULL
"""

# ---------------------------------------------------------------------------
# F13: exact dedup; U4: set difference; A4: unique-event count
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.countDistinct("text").alias("n_unique"), F.count("*").alias("n_rows")
    )

DEDUP_EXACT_SQL = """
SELECT lang, source, count(DISTINCT text) AS n_unique, count(*) AS n_rows
FROM documents GROUP BY lang, source
"""

def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    # triple-set difference (sem_comparison.py:52-55 analog) on word sets
    docs = _t(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    w0 = words.filter(F.col("doc_id") == 0).select("word").distinct()
    w1 = words.filter(F.col("doc_id") == 1).select("word").distinct()
    return w0.subtract(w1)

SET_EXCEPT_SQL = """
SELECT DISTINCT w AS word FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                                FROM documents) WHERE doc_id = 0
EXCEPT
SELECT DISTINCT w FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                        FROM documents) WHERE doc_id = 1
"""

def q_count_unique_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        F.countDistinct("event_id").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )

COUNT_UNIQUE_SQL = """
SELECT count(DISTINCT event_id) AS n_events, count(DISTINCT user_id) AS n_users
FROM events
"""

# ---------------------------------------------------------------------------
# A6: event-level P/R/F1 (metrics.py:62-94) — integer-scaled
# ---------------------------------------------------------------------------


def q_event_prf1(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    gold = ev.filter(F.col("event_type") == "signup").select("user_id").distinct()
    found = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    tp = found.join(gold, "user_id", "inner").count()
    fp = found.join(gold, "user_id", "left_anti").count()
    fn = gold.join(found, "user_id", "left_anti").count()
    spark_df = spark.createDataFrame([(tp, fp, fn)], ["tp", "fp", "fn"])
    return spark_df.selectExpr(
        "tp",
        "fp",
        "fn",
        "CAST(tp * 1000000 DIV (tp + fp) AS BIGINT) AS p_x1e6",
        "CAST(tp * 1000000 DIV (tp + fn) AS BIGINT) AS r_x1e6",
    )

PRF1_SQL = """
WITH gold AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'),
found AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
c AS (
  SELECT
    (SELECT count(*) FROM found WHERE user_id IN (SELECT user_id FROM gold)) AS tp,
    (SELECT count(*) FROM found WHERE user_id NOT IN (SELECT user_id FROM gold)) AS fp,
    (SELECT count(*) FROM gold WHERE user_id NOT IN (SELECT user_id FROM found)) AS fn
)
SELECT tp, fp, fn,
       CAST((tp * 1000000) // (tp + fp) AS BIGINT) AS p_x1e6,
       CAST((tp * 1000000) // (tp + fn) AS BIGINT) AS r_x1e6
FROM c
"""

# ---------------------------------------------------------------------------
# Text analysis ops over documents
# ---------------------------------------------------------------------------


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )

TOKEN_COUNT_SQL = """
SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents
"""

def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    words = F.split("text", " ")
    stop = F.size(F.expr("filter(split(text, ' '), w -> w IN ('the', 'a'))"))
    return docs.select(
        "doc_id",
        F.floor((stop * 10000).cast("double") / F.size(words) + F.lit(0.5))
        .cast("long")
        .alias("stopword_ratio_x1e4"),
    )

LANG_ID_SQL = """
SELECT doc_id,
  CAST(floor(CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) * 10000 AS DOUBLE)
       / len(string_split(text, ' ')) + 0.5) AS BIGINT) AS stopword_ratio_x1e4
FROM documents
"""

def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", F.md5("text").alias("fp"))

FINGERPRINT_SQL = "SELECT doc_id, md5(text) AS fp FROM documents"

def q_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    w = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    return w.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"s{i}|"), F.col("word")))).alias(f"h{i}")
            for i in range(4)
        ]
    )

MINHASH_SQL = """
SELECT doc_id,
  min(md5('s0|' || w)) AS h0, min(md5('s1|' || w)) AS h1,
  min(md5('s2|' || w)) AS h2, min(md5('s3|' || w)) AS h3
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
GROUP BY doc_id
"""

def q_vocab_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    vocab = ["spark", "join", "merge", "customer", "window"]
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word").isin(vocab))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )

VOCAB_MENTIONS_SQL = """
SELECT w AS word, count(*) AS cnt
FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
WHERE w IN ('spark', 'join', 'merge', 'customer', 'window')
GROUP BY w
"""

# ---------------------------------------------------------------------------
# Similarity: brute-force cosine top-k (rank output; scaled sim for stability)
# ---------------------------------------------------------------------------


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("q"))
    dot = F.aggregate(
        F.zip_with("v", "q", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.col(c), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    sims = (
        emb.crossJoin(F.broadcast(qv))
        .filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            (dot / (norm("v") * norm("q"))).alias("sim"),
        )
    )
    # top-k via orderBy+limit compiles to TakeOrderedAndProject (per-partition
    # heap + driver merge) — no single-partition global window shuffle
    topk = sims.orderBy(F.desc("sim"), F.asc("vec_id")).limit(10)
    w = Window.orderBy(F.desc("sim"), F.asc("vec_id"))  # 10 rows only
    return topk.withColumn("rank", F.row_number().over(w)).select("vec_id", "rank")

COSINE_TOPK_SQL = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = 0),
sims AS (
  SELECT e.vec_id,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), q.q)
           / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(q.q, q.q))) AS sim
  FROM embeddings e, q WHERE e.vec_id <> 0
)
SELECT vec_id, CAST(row_number() OVER (ORDER BY sim DESC, vec_id ASC) AS INT) AS rank
FROM sims ORDER BY sim DESC, vec_id ASC LIMIT 10
"""

# ---------------------------------------------------------------------------
# F1-F4: scan-level filter chain; G4-G6: iterative graph algorithms
# ---------------------------------------------------------------------------


def q_scan_filter_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F4 chain, mirroring the reference's two scan paths: namespace/affix
    filters on the URI-object path (interface.py:74-110), literal
    normalization on the spec-outgoing path (interface.py:86-117)."""
    from chronographer_spark.operators.scan_filters import (
        filter_namespace,
        filter_node_affixes,
        filter_predicates,
        normalize_literals,
    )

    li = _t(spark, sf_dir, "lineitem")
    item = F.concat(
        F.lit("http://ex/item/"), F.col("l_orderkey").cast("string"),
        F.lit("-"), F.col("l_linenumber").cast("string"),
    )
    # URI-object triples: odd suppkeys live in a foreign namespace
    uri_triples = li.select(
        item.alias("subject"),
        F.when(F.col("l_linenumber") == 1, F.lit("ex:dropme"))
        .otherwise(F.lit("ex:supplied_by"))
        .alias("predicate"),
        F.when(
            F.col("l_suppkey") % 2 == 1,
            F.concat(F.lit("http://other/sup/"), F.col("l_suppkey").cast("string")),
        )
        .otherwise(
            F.concat(F.lit("http://ex/sup/"), F.col("l_suppkey").cast("string"))
        )
        .alias("object"),
    )
    uri_out = filter_predicates(uri_triples, ["ex:dropme"], keep=False)
    uri_out = filter_namespace(uri_out, "http://ex/")
    uri_out = filter_node_affixes(uri_out, drop_prefixes=["http://ex/sup/13"])

    # literal-object triples: typed dateTime literals -> ISO day slice
    lit_triples = li.select(
        item.alias("subject"),
        F.lit("ex:shipped").alias("predicate"),
        F.concat(
            F.lit('"'), F.date_format("l_shipdate", "yyyy-MM-dd"),
            F.lit('T00:00:00"^^<http://www.w3.org/2001/XMLSchema#dateTime>'),
        ).alias("object"),
    )
    lit_out = normalize_literals(lit_triples)
    return uri_out.unionByName(lit_out).dropDuplicates()

SCAN_FILTER_SQL = """
WITH uri_t AS (
  SELECT 'http://ex/item/' || CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS subject,
         CASE WHEN l_linenumber = 1 THEN 'ex:dropme' ELSE 'ex:supplied_by' END AS predicate,
         CASE WHEN l_suppkey % 2 = 1 THEN 'http://other/sup/' || CAST(l_suppkey AS VARCHAR)
              ELSE 'http://ex/sup/' || CAST(l_suppkey AS VARCHAR) END AS object
  FROM lineitem
),
lit_t AS (
  SELECT 'http://ex/item/' || CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS subject,
         'ex:shipped' AS predicate,
         substr('"' || strftime(l_shipdate, '%Y-%m-%d') || 'T00:00:00"', 2, 10) AS object
  FROM lineitem
)
SELECT DISTINCT subject, predicate, object FROM (
  SELECT * FROM uri_t
  WHERE predicate <> 'ex:dropme'
    AND object LIKE 'http://ex/%'
    AND object NOT LIKE 'http://ex/sup/13%'
  UNION ALL
  SELECT * FROM lit_t
)
"""

def q_entity_type_discard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 standalone — entity-type discard (reference filtering.py:99-110):
    nodes typed with any of the WHERE/WHO class URIs. Type triples derive
    from customer nations; nations 1-3 play the 'place class' list."""
    from chronographer_spark.operators.filtering import discard_by_entity_type

    cust = _t(spark, sf_dir, "customer")
    type_date = cust.select(
        F.concat(F.lit("http://ex/cust/"), F.col("c_custkey").cast("string")).alias("subject"),
        F.lit("http://www.w3.org/1999/02/22-rdf-syntax-ns#type").alias("predicate"),
        F.concat(F.lit("ex:class/Nation"), F.col("c_nationkey").cast("string")).alias("object"),
    )
    return discard_by_entity_type(
        type_date, ["ex:class/Nation1", "ex:class/Nation2", "ex:class/Nation3"]
    )

ENTITY_DISCARD_SQL = """
SELECT DISTINCT 'http://ex/cust/' || CAST(c_custkey AS VARCHAR) AS node
FROM customer WHERE c_nationkey IN (1, 2, 3)
"""

def q_frame_count_per_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A9 analog: distinct mentions per (event, dimension)
    tx = transcripts_from_events(spark, sf_dir)
    m = extract_mentions(tx, carry_text=False)
    return m.groupBy("conv_id", "turn_idx", "dimension").agg(
        F.countDistinct("mention").alias("n_mentions")
    )

FRAME_COUNT_SQL = f"""
{TX_SQL},
m AS (
  SELECT conv_id, turn_idx, regexp_extract(text, '(\\d{{4}}-\\d{{2}}-\\d{{2}})', 1) AS mention,
         'when' AS dimension
  FROM tx WHERE regexp_extract(text, '(\\d{{4}}-\\d{{2}}-\\d{{2}})', 1) <> ''
  UNION ALL
  SELECT conv_id, turn_idx, tool, 'tool' FROM tx WHERE role = 'tool' AND tool <> ''
)
SELECT conv_id, turn_idx, dimension, count(DISTINCT mention) AS n_mentions
FROM m GROUP BY conv_id, turn_idx, dimension
"""

def q_sem_emission_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-2 generic emission (generic_kb_to_ng.py semantics) over a triple
    view derived from supplier/nation/orders + inline vocab tables."""
    from chronographer_spark.graph.materialize import emit_sem_from_triples

    sup = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    nat_triples = sup.select(
        F.concat(F.lit("http://ex/sup/"), F.col("s_suppkey").cast("string")).alias("subject"),
        F.lit("http://ex/prop/nation").alias("predicate"),
        F.concat(F.lit("http://ex/nation/"), F.col("s_nationkey").cast("string")).alias("object"),
    )
    date_triples = orders.filter(F.col("o_orderkey") % 100 == 0).select(
        F.concat(F.lit("http://ex/order/"), F.col("o_orderkey").cast("string")).alias("subject"),
        F.lit("http://ex/prop/startDate").alias("predicate"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("object"),
    )
    triples = nat_triples.unionByName(date_triples)

    pred_labels = spark.createDataFrame(
        [("http://ex/prop/nation", "country"), ("http://ex/prop/startDate", "start time")],
        ["predicate", "label"],
    )
    pred_domain = spark.createDataFrame(
        [], "predicate string, classes array<string>"
    )
    pred_range = spark.createDataFrame(
        [("http://ex/prop/nation", ["http://ex/class/Nation"])],
        "predicate string, classes array<string>",
    )
    superclasses = spark.createDataFrame(
        [("http://ex/class/Nation", ["http://ex/class/Country"])],
        "class string, ancestors array<string>",
    )
    return emit_sem_from_triples(
        triples, pred_labels, pred_domain, pred_range, superclasses,
        start_d="1995-01-01", end_d="2002-12-31",
    )

SEM_EMISSION_SQL = """
WITH nat AS (
  SELECT 'http://ex/sup/' || CAST(s_suppkey AS VARCHAR) AS subject,
         'http://ex/nation/' || CAST(s_nationkey AS VARCHAR) AS object
  FROM supplier
),
dts AS (
  SELECT 'http://ex/order/' || CAST(o_orderkey AS VARCHAR) AS subject,
         strftime(o_orderdate, '%Y-%m-%d') AS object
  FROM orders WHERE o_orderkey % 100 = 0
),
subjects AS (SELECT DISTINCT subject FROM (SELECT subject FROM nat UNION ALL SELECT subject FROM dts))
SELECT DISTINCT subject, predicate, object FROM (
  -- event typing for every subject (generic_kb_to_ng.py:220-221)
  SELECT subject, 'rdf:type' AS predicate, 'sem:Event' AS object FROM subjects
  UNION ALL
  -- range rule: class Nation -> superclass Country -> label 'country' -> where
  SELECT subject, 'sem:hasPlace', object FROM nat
  UNION ALL
  -- label-substring rule: label 'country' contains 'country' -> where
  SELECT subject, 'sem:hasPlace', object FROM nat
  UNION ALL
  -- temporal: begin = min in-window date, end := begin (only start labels)
  SELECT subject, 'sem:hasBeginTimeStamp', min(object) FROM dts
  WHERE object >= '1995-01-01' AND object <= '2002-12-31' GROUP BY subject
  UNION ALL
  SELECT subject, 'sem:hasEndTimeStamp', min(object) FROM dts
  WHERE object >= '1995-01-01' AND object <= '2002-12-31' GROUP BY subject
)
"""

# ---------------------------------------------------------------------------
# D1-D6: iterative candidate-event search (non-SQL-expressible: iterative
# ranking loop -> rows-only oracle check)
# ---------------------------------------------------------------------------


def q_event_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two genuine iterations of the informed search, gate-verified against
    an UNROLLED per-iteration oracle (EVENT_SEARCH_SQL documents the replay):

    iter 1 expands the seed customer: the entropy ranker restricts to the
    best priority class (ex:placed carries superclass Event via Order ->
    priority 1, ex:inNation priority 3), chooses the `placed` path, and the
    temporal filter discards orders outside the date window — the subgraph
    gains (cust, placed, order) for in-window orders.
    iter 2 expands those orders: their lineitems are typed ex:class/Line
    (ancestor Event -> admitted), so the subgraph gains
    (order, hasLine, line) rows. Reference loop: framework.py:704-857.
    """
    import tempfile

    from chronographer_spark.operators.filtering import FilteringConfig
    from chronographer_spark.search.driver import GraphSearch, SearchConfig

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    # triple view: customer --placed--> order --hasLine--> lineitem,
    # plus rdf:type and date rows for orders and lines
    placed = orders.select(
        F.concat(F.lit("http://ex/cust/"), F.col("o_custkey").cast("string")).alias("subject"),
        F.lit("ex:placed").alias("predicate"),
        F.concat(F.lit("http://ex/order/"), F.col("o_orderkey").cast("string")).alias("object"),
    )
    types = orders.select(
        F.concat(F.lit("http://ex/order/"), F.col("o_orderkey").cast("string")).alias("subject"),
        F.lit("http://www.w3.org/1999/02/22-rdf-syntax-ns#type").alias("predicate"),
        F.lit("ex:class/Order").alias("object"),
    )
    dates = orders.select(
        F.concat(F.lit("http://ex/order/"), F.col("o_orderkey").cast("string")).alias("subject"),
        F.lit("ex:prop/date").alias("predicate"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("object"),
    )
    nat = cust.select(
        F.concat(F.lit("http://ex/cust/"), F.col("c_custkey").cast("string")).alias("subject"),
        F.lit("ex:inNation").alias("predicate"),
        F.concat(F.lit("http://ex/nation/"), F.col("c_nationkey").cast("string")).alias("object"),
    )
    line_uri = F.concat(
        F.lit("http://ex/line/"), F.col("l_orderkey").cast("string"),
        F.lit("-"), F.col("l_linenumber").cast("string"),
    )
    has_line = li.select(
        F.concat(F.lit("http://ex/order/"), F.col("l_orderkey").cast("string")).alias("subject"),
        F.lit("ex:hasLine").alias("predicate"),
        line_uri.alias("object"),
    )
    line_types = li.select(
        line_uri.alias("subject"),
        F.lit("http://www.w3.org/1999/02/22-rdf-syntax-ns#type").alias("predicate"),
        F.lit("ex:class/Line").alias("object"),
    )
    triples = (
        placed.unionByName(types).unionByName(dates).unionByName(nat)
        .unionByName(has_line).unionByName(line_types)
    )

    pred_range = spark.createDataFrame(
        [
            ("ex:placed", ["ex:class/Order"]),
            ("ex:hasLine", ["ex:class/Line"]),
        ],
        "predicate string, classes array<string>",
    )
    superclasses = spark.createDataFrame(
        [
            ("ex:class/Order", ["ex:class/Event"]),
            ("ex:class/Line", ["ex:class/Event"]),
        ],
        "class string, ancestors array<string>",
    )
    cfg = SearchConfig(
        start="http://ex/cust/1",
        iterations=2,
        target_types=["ex:class/Event"],
        type_ranking="entropy_pred_object_freq",
        dates=("1995-01-01", "2002-12-31"),
        max_uri=500,
    )
    filt = FilteringConfig(
        point_in_time=["ex:prop/date"], start_dates=[], end_dates=[],
        places=[], people=[], dataset_type="synthetic",  # no URI-year regex
    )
    gs = GraphSearch(
        spark, triples, cfg, filt,
        pred_domain=None, pred_range=pred_range, superclasses=superclasses,
        checkpoint_dir=tempfile.mkdtemp(prefix="cg_search_"), run_id="entryq",
    )
    gs.run()
    state = gs.final_state()
    return state["subgraph"].select("subject", "predicate", "object").dropDuplicates()

# Unrolled replay of the 2-iteration informed search on the fixture above.
# iter 1: frontier={cust/1}; expansion joins find placed/inNation outgoing;
#   type+date lookup admits orders (typed Order, ancestor Event) whose date
#   lies in the window (temporal discard F5, lexical ISO compare); the
#   entropy ranker's priority restriction picks `placed` (priority 1 beats
#   inNation's 3) => subgraph += (cust/1, placed, win_order).
# iter 2: frontier = win_orders (path resolution J7, visited-pruned);
#   expansion finds hasLine outgoing; lines typed Line (ancestor Event) are
#   admitted, nothing discards them => subgraph += (order, hasLine, line).
EVENT_SEARCH_SQL = """
WITH win_orders AS (
  SELECT o_orderkey FROM orders
  WHERE o_custkey = 1
    AND o_orderdate >= DATE '1995-01-01' AND o_orderdate <= DATE '2002-12-31'
),
iter1 AS (
  SELECT 'http://ex/cust/1' AS subject,
         'ex:placed' AS predicate,
         'http://ex/order/' || CAST(o_orderkey AS VARCHAR) AS object
  FROM win_orders
),
iter2 AS (
  SELECT 'http://ex/order/' || CAST(l.l_orderkey AS VARCHAR) AS subject,
         'ex:hasLine' AS predicate,
         'http://ex/line/' || CAST(l.l_orderkey AS VARCHAR) || '-'
           || CAST(l.l_linenumber AS VARCHAR) AS object
  FROM lineitem l JOIN win_orders w ON l.l_orderkey = w.o_orderkey
)
SELECT DISTINCT subject, predicate, object
FROM (SELECT * FROM iter1 UNION ALL SELECT * FROM iter2)
"""

def q_info_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — per-iteration diagnostics (reference src/ordering.py:110-143):
    total pending rows, rows whose predicate closure annotated a nonempty
    superclass list, rows whose superclasses hit the focus set. The fixture
    pins all three counters to DIFFERENT values: placed rows annotate to
    [Event] (relevant), inNation rows to [Place] (annotated, not relevant),
    date rows have no closure entry (counted in the total only)."""
    from chronographer_spark.operators.ordering import annotate_superclass, build_pred_closure, info_counters

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    placed = orders.select(
        F.concat(F.lit("http://ex/cust/"), F.col("o_custkey").cast("string")).alias("subject"),
        F.lit("ex:placed").alias("predicate"),
        F.concat(F.lit("http://ex/order/"), F.col("o_orderkey").cast("string")).alias("object"),
    )
    nat = cust.select(
        F.concat(F.lit("http://ex/cust/"), F.col("c_custkey").cast("string")).alias("subject"),
        F.lit("ex:inNation").alias("predicate"),
        F.concat(F.lit("http://ex/nation/"), F.col("c_nationkey").cast("string")).alias("object"),
    )
    dates = orders.select(
        F.concat(F.lit("http://ex/order/"), F.col("o_orderkey").cast("string")).alias("subject"),
        F.lit("ex:prop/date").alias("predicate"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("object"),
    )
    pending = placed.unionByName(nat).unionByName(dates)
    pred_range = spark.createDataFrame(
        [
            ("ex:placed", ["ex:class/Order"]),
            ("ex:inNation", ["ex:class/Nation"]),
        ],
        "predicate string, classes array<string>",
    )
    superclasses = spark.createDataFrame(
        [
            ("ex:class/Order", ["ex:class/Event"]),
            ("ex:class/Nation", ["ex:class/Place"]),
        ],
        "class string, ancestors array<string>",
    )
    closure = build_pred_closure(pred_range, superclasses)
    annotated = annotate_superclass(pending, closure)
    return info_counters(annotated, "outgoing", ["ex:class/Event"])

INFO_COUNTERS_SQL = """
SELECT
  CAST(2 * (SELECT count(*) FROM orders) + (SELECT count(*) FROM customer) AS BIGINT)
    AS outgoing,
  CAST((SELECT count(*) FROM orders) + (SELECT count(*) FROM customer) AS BIGINT)
    AS outgoing_annotated,
  CAST((SELECT count(*) FROM orders) AS BIGINT) AS outgoing_relevant
"""

# ---------------------------------------------------------------------------
# Rollup + pivot (multi-level aggregation surface; beyond the reference's
# flat groupBys — SURVEY.md §2.4 notes it has no grouping sets)
# ---------------------------------------------------------------------------


def q_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals (status, priority) -> (status) -> grand total in
    one pass — Spark expands the rollup in the partial aggregate, so the
    shuffle carries pre-combined rows per grouping set, not the input."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            # per-row scale to integer cents BEFORE the sum: exact bigint
            # arithmetic is order-independent, a double sum is not
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
            .alias("total_x100"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "total_x100",
        )
    )

ROLLUP_SQL = """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*) AS n,
       -- outer CAST: DuckDB's sum(BIGINT) yields HUGEINT, whose pandas
       -- export goes through float64 and can arrive non-integral
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_x100
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""

def q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over (status, priority) — completes the grouping-sets
    family beside rollup: adds the (priority-only) marginal the hierarchy
    skips. The gid column is built from per-column grouping() bits
    explicitly (2*g(status)+g(priority)) so the bitmask is engine-neutral
    rather than relying on either engine's grouping_id ordering."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
            .alias("total_x100"),
            (
                F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority")
            ).cast("long").alias("gid"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "gid",
            "n",
            "total_x100",
        )
    )

CUBE_SQL = """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       CAST(2 * GROUPING(o_orderstatus) + GROUPING(o_orderpriority)
            AS BIGINT) AS gid,
       count(*) AS n,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_x100
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""

def q_pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type counts pivoted to columns. Pivot values are pinned
    explicitly (no discovery scan; deterministic column order)."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = ev.groupBy("user_id").pivot("event_type", types).agg(F.count(F.lit(1)))
    return out.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}") for t in types]
    )

PIVOT_SQL = """
SELECT user_id,
  count(*) FILTER (event_type = 'click')    AS n_click,
  count(*) FILTER (event_type = 'error')    AS n_error,
  count(*) FILTER (event_type = 'purchase') AS n_purchase,
  count(*) FILTER (event_type = 'signup')   AS n_signup,
  count(*) FILTER (event_type = 'view')     AS n_view
FROM events GROUP BY user_id
"""

def q_triple_prf1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 — triple-level per-predicate comparison with the reference's
    SWAPPED P/R naming (sem_comparison.py:63-75: "precision" divides by
    common+gold_only, "recall" by common+constructed_only). The fixture
    pins all three count kinds nonzero across predicates: actors match on
    even event ids only (constructed_only on odd), begin timestamps match
    everywhere (pure common), places exist only in gold (pure gold_only)."""
    from chronographer_spark.metrics import triple_set_compare
    from chronographer_spark.vocab import NF_TO_PRED

    ev = _t(spark, sf_dir, "events")
    ev_uri = F.concat(F.lit("ng:event/"), F.col("event_id").cast("string"))
    actor = F.concat(F.lit("ng:actor/u"), F.col("user_id").cast("string"))
    bts = F.date_format("ts", "yyyy-MM-dd")
    place = F.concat(F.lit("ng:place/p"), (F.col("user_id") % 10).cast("string"))

    constructed = ev.select(
        ev_uri.alias("subject"), F.lit(NF_TO_PRED["who"]).alias("predicate"), actor.alias("object")
    ).unionByName(
        ev.select(ev_uri.alias("subject"), F.lit(NF_TO_PRED["when_bts"]).alias("predicate"), bts.alias("object"))
    )
    gold = ev.filter(F.col("event_id") % 2 == 0).select(
        ev_uri.alias("subject"), F.lit(NF_TO_PRED["who"]).alias("predicate"), actor.alias("object")
    ).unionByName(
        ev.select(ev_uri.alias("subject"), F.lit(NF_TO_PRED["when_bts"]).alias("predicate"), bts.alias("object"))
    ).unionByName(
        ev.filter(F.col("event_id") % 7 == 0).select(
            ev_uri.alias("subject"), F.lit(NF_TO_PRED["where"]).alias("predicate"), place.alias("object")
        )
    )
    common, gold_only, constructed_only = triple_set_compare(constructed, gold)

    def per_pred(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy("predicate").agg(F.count("*").alias(name))

    counts = (
        per_pred(common, "common")
        .join(per_pred(gold_only, "gold_only"), "predicate", "full")
        .join(per_pred(constructed_only, "constructed_only"), "predicate", "full")
        .na.fill(0)
    )
    c, g, o = F.col("common"), F.col("gold_only"), F.col("constructed_only")
    p = F.when(c + g > 0, c / (c + g)).otherwise(F.lit(0.0))
    r = F.when(c + o > 0, c / (c + o)).otherwise(F.lit(0.0))
    return counts.select(
        "predicate", "common", "gold_only", "constructed_only",
        F.floor(p * 1000000 + F.lit(0.5)).cast("long").alias("p_x1e6"),
        F.floor(r * 1000000 + F.lit(0.5)).cast("long").alias("r_x1e6"),
    )

TRIPLE_PRF1_SQL = """
WITH n AS (
  SELECT count(*) AS n_all,
         sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS n_even,
         sum(CASE WHEN event_id % 2 <> 0 THEN 1 ELSE 0 END) AS n_odd,
         sum(CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END) AS n_sev
  FROM events
),
counts AS (
  SELECT 'sem:hasActor' AS predicate, n_even AS common, 0 AS gold_only, n_odd AS constructed_only FROM n
  UNION ALL
  SELECT 'sem:hasBeginTimeStamp', n_all, 0, 0 FROM n
  UNION ALL
  SELECT 'sem:hasPlace', 0, n_sev, 0 FROM n
)
SELECT predicate, CAST(common AS BIGINT) AS common,
       CAST(gold_only AS BIGINT) AS gold_only,
       CAST(constructed_only AS BIGINT) AS constructed_only,
       CAST(floor(CASE WHEN common + gold_only > 0
                       THEN CAST(common AS DOUBLE) / (common + gold_only) ELSE 0 END
             * 1000000 + 0.5) AS BIGINT) AS p_x1e6,
       CAST(floor(CASE WHEN common + constructed_only > 0
                       THEN CAST(common AS DOUBLE) / (common + constructed_only) ELSE 0 END
             * 1000000 + 0.5) AS BIGINT) AS r_x1e6
FROM counts
"""

def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: k docs per language, picked by
    md5(doc_id) order (the engine's seeded-sample surrogate, O3 semantics —
    reproducible on any engine/partitioning, unlike sample()/sampleBy()).
    The training-data use: balanced per-class subsets at corpus scale."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select("lang", "doc_id", F.col("rk").cast("int").alias("rk"))
    )

STRATIFIED_SQL = """
SELECT lang, doc_id, CAST(rk AS INT) AS rk FROM (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
) WHERE rk <= 20
"""

def q_sql_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL entry point (S2's `spark.sql` surface): the same
    Catalyst plan as the DataFrame API, written as SQL over temp views —
    broadcast the two dims, integer-cents revenue."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    _t(spark, sf_dir, "nation").createOrReplaceTempView("v_nation")
    return spark.sql(
        """
        SELECT /*+ BROADCAST(n, c) */ n.n_name AS nation,
               count(*) AS n_orders,
               sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS revenue_x100
        FROM v_orders o
        JOIN v_customer c ON o.o_custkey = c.c_custkey
        JOIN v_nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        """
    )

SQL_REVENUE_SQL = """
SELECT n.n_name AS nation, count(*) AS n_orders,
       CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS revenue_x100
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""

def q_props_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tool-payload JSON parsing (SURVEY.md §2.8: the transcript graft's
    `from_json(props)` surface): schema-typed parse — not get_json_object
    string probing — then a plain aggregate; the parse inlines into
    whole-stage codegen."""
    ev = _t(spark, sf_dir, "events")
    parsed = ev.withColumn("p", F.from_json("props", "k INT"))
    return parsed.groupBy("event_type").agg(
        F.sum(F.col("p.k")).cast("long").alias("sum_k"),
        F.count(F.when(F.col("p.k").isNotNull(), 1)).alias("n_with_k"),
    )

PROPS_JSON_SQL = """
SELECT event_type,
       CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       count(CASE WHEN json_extract(props, '$.k') IS NOT NULL THEN 1 END) AS n_with_k
FROM events GROUP BY event_type
"""

def q_quantiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` ==
    DuckDB `quantile_cont`: both compute lower + frac·(upper−lower) at
    position (n−1)·q — verified bit-identical). The production path at 100TB
    swaps in `percentile_approx` (t-digest) — exact percentile sorts each
    group; the query contract pins the exact variant for verifiability."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.floor(F.expr("percentile(value, 0.5)") * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("p50_x1e6"),
        F.floor(F.expr("percentile(value, 0.9)") * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("p90_x1e6"),
    )

QUANTILES_SQL = """
SELECT event_type,
  CAST(floor(quantile_cont(value, 0.5) * 1000000 + 0.5) AS BIGINT) AS p50_x1e6,
  CAST(floor(quantile_cont(value, 0.9) * 1000000 + 0.5) AS BIGINT) AS p90_x1e6
FROM events GROUP BY event_type
"""

def q_zorder_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton z-values (io/catalog.py zorder_value) of (user_id, event_id)
    per event — the bit-interleaved sort key behind Catalog.write_zordered's
    multi-column data-skipping layout. Pure shift/mask integer expression;
    the oracle replays the interleave bit-for-bit."""
    from chronographer_spark.io.catalog import zorder_value

    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        zorder_value(F.col("user_id"), F.col("event_id"), bits=16).alias("zval"),
    )

ZORDER_SQL = """
SELECT event_id, CAST(list_sum(list_transform(range(0, 16), j ->
  ((((user_id % 65536) >> j) & 1) << (2*j))
  + ((((event_id % 65536) >> j) & 1) << (2*j + 1))
)) AS BIGINT) AS zval
FROM events
"""

def q_rdfs_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDFS-lite forward chaining (graph/rdfs.py rdfs_materialize, 2
    exact rounds) over order-derived instance triples and an interacting
    schema: p0 edges become p1 edges (rdfs7) in round 1, original p1
    edges type their endpoints (rdfs2/3) in round 1 and climb one
    subclass level (rdfs9) in round 2, derived p1 edges type in round 2
    — every rule and the round interaction land in the gate. The oracle
    unrolls both union-distinct rounds."""
    from chronographer_spark.graph.rdfs import rdfs_materialize

    orders = _t(spark, sf_dir, "orders")
    data = orders.select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("subject"),
        F.concat(F.lit("p"), (F.col("o_orderkey") % 2).cast("string")).alias(
            "predicate"
        ),
        F.concat(F.lit("o"), F.col("o_orderkey").cast("string")).alias("object"),
    )
    schema = spark.createDataFrame(
        [
            ("p0", "rdfs:subPropertyOf", "p1"),
            ("p1", "rdfs:domain", "C1"),
            ("p1", "rdfs:range", "C2"),
            ("C1", "rdfs:subClassOf", "C0"),
            ("C0", "rdfs:subClassOf", "CT"),
        ],
        "subject string, predicate string, object string",
    )
    return rdfs_materialize(data, schema, max_rounds=2, exact_rounds=True)

_RDFS_ROUND_SQL = """
SELECT DISTINCT subject, predicate, object FROM (
  SELECT subject, predicate, object FROM {src}
  UNION ALL
  SELECT subject, 'p1', object FROM {src} WHERE predicate = 'p0'
  UNION ALL
  SELECT subject, 'rdf:type', 'C1' FROM {src} WHERE predicate = 'p1'
  UNION ALL
  SELECT object, 'rdf:type', 'C2' FROM {src} WHERE predicate = 'p1'
  UNION ALL
  SELECT subject, 'rdf:type',
         CASE object WHEN 'C1' THEN 'C0' ELSE 'CT' END
  FROM {src}
  WHERE predicate = 'rdf:type' AND object IN ('C1', 'C0')
)"""

RDFS_CLOSURE_SQL = f"""
WITH t0 AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS subject,
         'p' || CAST(o_orderkey % 2 AS VARCHAR) AS predicate,
         'o' || CAST(o_orderkey AS VARCHAR) AS object
  FROM orders
),
t1 AS ({_RDFS_ROUND_SQL.format(src="t0")}),
t2 AS ({_RDFS_ROUND_SQL.format(src="t1")})
SELECT subject, predicate, object FROM t2
"""

def q_wikidata_scan_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profile-driven per-KB scan chain (profiles.py WIKIDATA), mirroring
    the reference's two post-scan streams (interface.py:44-117,141-146):
    the main ingoing/outgoing stream runs the full chain — predicate drop
    (wdt:P910), namespace keep, statement-node drop, literal rules — and
    the specific type/date stream runs only literal normalization
    (the reference's _filter_specific applies no namespace filter). Triples
    are synthesized from `orders` with wikidata-shaped URIs, one case per
    o_orderkey % 5."""
    from chronographer_spark.profiles import WIKIDATA
    from chronographer_spark.operators.scan_filters import normalize_literals

    wd = "http://www.wikidata.org/entity/Q"
    wdt = "http://www.wikidata.org/prop/direct/"
    orders = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey") % 5
    main = orders.select(
        F.concat(F.lit(wd), F.col("o_orderkey").cast("string")).alias("subject"),
        F.when(k == 0, F.lit(wdt + "P910")).otherwise(F.lit(wdt + "P361")).alias(
            "predicate"
        ),
        F.when(
            k == 3,
            F.concat(
                F.lit("http://www.wikidata.org/entity/statement/Q"),
                F.col("o_custkey").cast("string"),
            ),
        )
        .when(
            k == 4,
            F.concat(F.lit("http://dbpedia.org/resource/X"), F.col("o_custkey").cast("string")),
        )
        .otherwise(F.concat(F.lit(wd), F.col("o_custkey").cast("string")))
        .alias("object"),
    )
    specific = orders.select(
        F.concat(F.lit(wd), F.col("o_orderkey").cast("string")).alias("subject"),
        F.lit(wdt + "P585").alias("predicate"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit('"Unknown"@en'))
        .otherwise(
            F.concat(
                F.lit('"'),
                F.date_format("o_orderdate", "yyyy-MM-dd"),
                F.lit('"^^<http://www.w3.org/2001/XMLSchema#date>'),
            )
        )
        .alias("object"),
    )
    return WIKIDATA.apply_scan_filters(main).unionByName(
        normalize_literals(specific)
    )

WIKIDATA_SCAN_SQL = """
WITH main AS (
  SELECT 'http://www.wikidata.org/entity/Q' || CAST(o_orderkey AS VARCHAR) AS subject,
         CASE WHEN o_orderkey % 5 = 0
              THEN 'http://www.wikidata.org/prop/direct/P910'
              ELSE 'http://www.wikidata.org/prop/direct/P361' END AS predicate,
         CASE WHEN o_orderkey % 5 = 3
              THEN 'http://www.wikidata.org/entity/statement/Q' || CAST(o_custkey AS VARCHAR)
              WHEN o_orderkey % 5 = 4
              THEN 'http://dbpedia.org/resource/X' || CAST(o_custkey AS VARCHAR)
              ELSE 'http://www.wikidata.org/entity/Q' || CAST(o_custkey AS VARCHAR)
         END AS object
  FROM orders
),
kept_main AS (
  SELECT * FROM main
  WHERE predicate <> 'http://www.wikidata.org/prop/direct/P910'   -- F1
    AND object LIKE 'http://www.wikidata%'                        -- F2
    AND object NOT LIKE 'http://www.wikidata.org/entity/statement/%'  -- F3
    AND object NOT LIKE 'http://www.wikidata.org/reference/%'
),
specific AS (
  SELECT 'http://www.wikidata.org/entity/Q' || CAST(o_orderkey AS VARCHAR) AS subject,
         'http://www.wikidata.org/prop/direct/P585' AS predicate,
         CASE WHEN o_orderkey % 7 = 0 THEN '"Unknown"@en'
              ELSE strftime(o_orderdate, '%Y-%m-%d') END AS object
  FROM orders
  WHERE o_orderkey % 7 <> 0                                        -- F4 Unknown drop
)
SELECT subject, predicate, object FROM kept_main
UNION ALL
SELECT subject, predicate, object FROM specific
"""

# ---------------------------------------------------------------------------
# Q: KG profile (per-predicate shape report over the constructed graph)
# ---------------------------------------------------------------------------


def q_kg_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph profiling a KG consumer runs first: triple count, distinct
    subject/object cardinalities, and mean out-fanout per predicate
    (fanout_x1e6 = exact integer quotient) over the flagship event graph.
    One groupBy on the materialized graph — the graph is built once
    (graph/materialize.py) and profiled in a single shuffle."""
    from chronographer_spark.graph.materialize import build_event_graph

    tx = transcripts_from_events(spark, sf_dir)
    g = build_event_graph(tx)
    return g.groupBy("predicate").agg(
        F.count(F.lit(1)).alias("n_triples"),
        F.countDistinct("subject").alias("n_subjects"),
        F.countDistinct("object").alias("n_objects"),
        F.expr(
            "CAST(count(*) * 1000000 DIV count(DISTINCT subject) AS BIGINT)"
        ).alias("fanout_x1e6"),
    )

KG_PROFILE_SQL = (
    "WITH g AS (" + FLAGSHIP_SQL + ")\n"
    """SELECT predicate,
       CAST(count(*) AS BIGINT) AS n_triples,
       CAST(count(DISTINCT subject) AS BIGINT) AS n_subjects,
       CAST(count(DISTINCT object) AS BIGINT) AS n_objects,
       CAST(count(*) * 1000000 // count(DISTINCT subject) AS BIGINT)
         AS fanout_x1e6
FROM g GROUP BY predicate
"""
)

# ---------------------------------------------------------------------------
# Q: SHACL-lite shape validation of the constructed graph
# ---------------------------------------------------------------------------


def q_shape_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shape-validate the flagship graph (graph/validate.shape_report)
    against the event-schema invariants the reference's queries assume:
    every typed event ordered (min_count ng:nextEvent — conversation-final
    events violate, by construction of the lead() edge), at most one tool
    per event, begin timestamps inside the January window (range_regex),
    and tool-bearing subjects typed sem:Event (domain_type)."""
    from chronographer_spark.graph.validate import shape_report

    g = _flagship_triples(spark, sf_dir).localCheckpoint(eager=True)
    return shape_report(
        g,
        [
            {"id": "r_ordered", "kind": "min_count", "pred": "ng:nextEvent", "min": 1},
            {"id": "r_single_tool", "kind": "max_count", "pred": "ng:usedTool", "max": 1},
            {
                "id": "r_jan_window",
                "kind": "range_regex",
                "pred": "sem:hasBeginTimeStamp",
                "regex": "^2024-01-[0-2][0-9]$",
            },
            {
                "id": "r_tool_typed",
                "kind": "domain_type",
                "pred": "ng:usedTool",
                "type": "sem:Event",
            },
        ],
    )

SHAPE_VIOLATIONS_SQL = (
    "WITH g AS (" + FLAGSHIP_SQL + ")\n"
    """, f AS (SELECT DISTINCT subject FROM g WHERE predicate = 'rdf:type'),
nc AS (
  SELECT subject, CAST(count(*) AS BIGINT) AS c FROM g
  WHERE predicate = 'ng:nextEvent' GROUP BY subject
),
r1 AS (
  SELECT 'r_ordered' AS rule_id, f.subject AS focus,
         CAST(coalesce(nc.c, 0) AS VARCHAR) AS detail
  FROM f LEFT JOIN nc ON f.subject = nc.subject
  WHERE coalesce(nc.c, 0) < 1
),
r2 AS (
  SELECT 'r_single_tool' AS rule_id, subject AS focus,
         CAST(count(*) AS VARCHAR) AS detail
  FROM g WHERE predicate = 'ng:usedTool' GROUP BY subject HAVING count(*) > 1
),
r3 AS (
  SELECT 'r_jan_window' AS rule_id, subject AS focus, object AS detail
  FROM g WHERE predicate = 'sem:hasBeginTimeStamp'
    AND NOT regexp_matches(object, '^2024-01-[0-2][0-9]$')
),
r4 AS (
  SELECT 'r_tool_typed' AS rule_id, t.subject AS focus,
         'missing type sem:Event' AS detail
  FROM (SELECT DISTINCT subject FROM g WHERE predicate = 'ng:usedTool') t
  WHERE t.subject NOT IN (
    SELECT subject FROM g WHERE predicate = 'rdf:type' AND object = 'sem:Event'
  )
)
SELECT * FROM r1 UNION ALL SELECT * FROM r2
UNION ALL SELECT * FROM r3 UNION ALL SELECT * FROM r4
"""
)

# ---------------------------------------------------------------------------
# Q: entity salience per conversation (frequency + first-position bonus)
# ---------------------------------------------------------------------------


def q_entity_salience(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-salient entity (event_type mention) per conversation:
    salience = freq * 10^6 + 10^6 DIV (first_turn + 1) — frequency
    dominates, earlier first mention breaks near-ties, and the score stays
    an exact integer. Tie-break on the smaller mention string."""
    tx = transcripts_from_events(spark, sf_dir)
    m = tx.select(
        "conv_id",
        "turn_idx",
        F.regexp_extract("text", r"event ([a-z]+) with", 1).alias("mention"),
    )
    per = m.groupBy("conv_id", "mention").agg(
        F.count(F.lit(1)).alias("freq"),
        F.min("turn_idx").alias("first_turn"),
    )
    score = (
        F.col("freq").cast("long") * F.lit(1_000_000)
        + F.expr("CAST(1000000 DIV (first_turn + 1) AS BIGINT)")
    ).alias("salience_x1e6")
    scored = per.select("conv_id", "mention", "freq", "first_turn", score)
    best = scored.groupBy("conv_id").agg(
        F.min_by(
            F.struct("mention", "freq", "first_turn", "salience_x1e6"),
            F.struct((-F.col("salience_x1e6")).alias("ns"), F.col("mention")),
        ).alias("m")
    )
    return best.select(
        "conv_id", "m.mention", "m.freq", "m.first_turn", "m.salience_x1e6"
    )

ENTITY_SALIENCE_SQL = f"""
{TX_SQL},
m AS (
  SELECT conv_id, turn_idx,
         regexp_extract(text, 'event ([a-z]+) with', 1) AS mention
  FROM tx
),
per AS (
  SELECT conv_id, mention, CAST(count(*) AS BIGINT) AS freq,
         CAST(min(turn_idx) AS INT) AS first_turn
  FROM m GROUP BY conv_id, mention
),
scored AS (
  SELECT conv_id, mention, freq, first_turn,
         CAST(freq * 1000000 + 1000000 // (first_turn + 1) AS BIGINT)
           AS salience_x1e6
  FROM per
)
SELECT conv_id, mention, freq, first_turn, salience_x1e6
FROM scored
QUALIFY row_number() OVER (
  PARTITION BY conv_id ORDER BY salience_x1e6 DESC, mention ASC) = 1
"""

# ---------------------------------------------------------------------------
# Q: per-entity temporal ordering edges across conversations
# ---------------------------------------------------------------------------


def q_entity_timeline_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Happened-before chain per entity ACROSS conversations: for each
    (event_type | value) mention, order its occurrences by (ts, conv,
    turn) and emit an edge to the next occurrence with the integer gap —
    the cross-document temporal ordering edges the north-star KG carries
    beside the within-conversation lead edges (window_lead_next). One
    window keyed by mention; entity-popularity skew is the classic window
    hot-partition — the finer (type | value) mention key keeps partitions
    bounded, and a production run salts a pathological celebrity entity."""
    tx = transcripts_from_events(spark, sf_dir)
    m = tx.select(
        "conv_id",
        "turn_idx",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.concat(
            F.regexp_extract("text", r"event ([a-z]+) with", 1),
            F.lit("|"),
            F.regexp_extract("text", r"value (\d+) recorded", 1),
        ).alias("mention"),
    )
    w = Window.partitionBy("mention").orderBy("ts_us", "conv_id", "turn_idx")
    return (
        m.select(
            "mention",
            "conv_id",
            "turn_idx",
            F.lead("conv_id").over(w).alias("next_conv"),
            F.lead("turn_idx").over(w).alias("next_turn"),
            (F.lead("ts_us").over(w) - F.col("ts_us")).alias("gap_us"),
        )
        .filter(F.col("next_conv").isNotNull())
    )

ENTITY_TIMELINE_SQL = f"""
{TX_SQL},
m AS (
  SELECT conv_id, turn_idx, epoch_us(ts) AS ts_us,
         regexp_extract(text, 'event ([a-z]+) with', 1) || '|'
           || regexp_extract(text, 'value (\\d+) recorded', 1) AS mention
  FROM tx
),
led AS (
  SELECT mention, conv_id, turn_idx,
         lead(conv_id) OVER w AS next_conv,
         lead(turn_idx) OVER w AS next_turn,
         lead(ts_us) OVER w - ts_us AS gap_us
  FROM m
  WINDOW w AS (PARTITION BY mention ORDER BY ts_us, conv_id, turn_idx)
)
SELECT mention, conv_id, turn_idx, next_conv, next_turn,
       CAST(gap_us AS BIGINT) AS gap_us
FROM led WHERE next_conv IS NOT NULL
"""

# ---------------------------------------------------------------------------
# Q: transition reciprocity (directed type-transition graph, mutual edges)
# ---------------------------------------------------------------------------


def q_transition_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed-graph reciprocity over the per-user consecutive
    event-type transition graph: for each unordered type pair, how often
    each direction occurs and whether the relation is mutual — the edge
    symmetry statistic a KG consumer reads before treating a relation as
    undirected. One lag window keyed by user + one pair aggregate."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        ev.select("user_id", "event_id", "ts", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .filter(F.col("prev_type") != F.col("event_type"))
    )
    directed = tr.groupBy(
        F.col("prev_type").alias("t_from"), F.col("event_type").alias("t_to")
    ).agg(F.count(F.lit(1)).alias("n"))
    a = directed.select(
        F.least("t_from", "t_to").alias("type_a"),
        F.greatest("t_from", "t_to").alias("type_b"),
        F.when(F.col("t_from") < F.col("t_to"), F.col("n")).otherwise(0).alias("n_ab"),
        F.when(F.col("t_from") > F.col("t_to"), F.col("n")).otherwise(0).alias("n_ba"),
    )
    return a.groupBy("type_a", "type_b").agg(
        F.sum("n_ab").alias("n_ab"),
        F.sum("n_ba").alias("n_ba"),
        F.when((F.sum("n_ab") > 0) & (F.sum("n_ba") > 0), 1)
        .otherwise(0)
        .cast("long")
        .alias("is_mutual"),
    )

TRANSITION_RECIPROCITY_SQL = """
WITH tr AS (
  SELECT user_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type,
         event_type
  FROM events
),
directed AS (
  SELECT prev_type AS t_from, event_type AS t_to, CAST(count(*) AS BIGINT) AS n
  FROM tr WHERE prev_type IS NOT NULL AND prev_type <> event_type
  GROUP BY t_from, t_to
),
folded AS (
  SELECT least(t_from, t_to) AS type_a, greatest(t_from, t_to) AS type_b,
         CASE WHEN t_from < t_to THEN n ELSE 0 END AS n_ab,
         CASE WHEN t_from > t_to THEN n ELSE 0 END AS n_ba
  FROM directed
)
SELECT type_a, type_b,
       CAST(sum(n_ab) AS BIGINT) AS n_ab,
       CAST(sum(n_ba) AS BIGINT) AS n_ba,
       CAST(CASE WHEN sum(n_ab) > 0 AND sum(n_ba) > 0 THEN 1 ELSE 0 END
            AS BIGINT) AS is_mutual
FROM folded GROUP BY type_a, type_b
"""

# ---------------------------------------------------------------------------
# Q: hour-of-day activity profile per event type (integer over-rep flag)
# ---------------------------------------------------------------------------


def q_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_type, hour-of-day): count plus an integer
    over-representation flag (count * 24 > total-for-type means the hour
    beats the uniform rate) — the temporal profile a scheduling/anomaly
    analysis reads. Two aggregations sharing the event_type key."""
    ev = _t(spark, sf_dir, "events")
    byh = ev.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = byh.groupBy("event_type").agg(F.sum("n").alias("total"))
    return byh.join(tot, "event_type").select(
        "event_type",
        "hour",
        "n",
        "total",
        F.when(F.col("n") * 24 > F.col("total"), 1).otherwise(0).cast("long")
        .alias("over_uniform"),
    )

HOURLY_PROFILE_SQL = """
WITH byh AS (
  SELECT event_type, CAST(hour(ts) AS INT) AS hour,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, hour
),
tot AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS total FROM byh GROUP BY event_type)
SELECT b.event_type, b.hour, b.n, t.total,
       CAST(CASE WHEN b.n * 24 > t.total THEN 1 ELSE 0 END AS BIGINT)
         AS over_uniform
FROM byh b JOIN tot t USING (event_type)
"""

# ---------------------------------------------------------------------------
# Q: leakage-safe conversation-level dataset split (stratified, hash-stable)
# ---------------------------------------------------------------------------


def q_conv_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment at CONVERSATION granularity — the unit
    that must not leak across splits for transcript corpora — stratified
    by each conversation's salient mention so every stratum lands in every
    split. Assignment is md5(conv_id) mod 10 (8/1/1), stable under
    reprocessing and independent of row order; new conversations join a
    split without reshuffling old ones (the reservoir-free property a
    growing corpus needs)."""
    sal = q_entity_salience(spark, sf_dir).select("conv_id", "mention")
    bucket = F.conv(F.substring(F.md5("conv_id"), 1, 8), 16, 10).cast("long") % 10
    return sal.select(
        "conv_id",
        F.col("mention").alias("stratum"),
        bucket.alias("bucket"),
        F.when(bucket <= 7, "train")
        .when(bucket == 8, "val")
        .otherwise("test")
        .alias("split"),
    )

CONV_SPLIT_SQL = f"""
{TX_SQL},
m AS (
  SELECT conv_id, turn_idx,
         regexp_extract(text, 'event ([a-z]+) with', 1) AS mention
  FROM tx
),
per AS (
  SELECT conv_id, mention, CAST(count(*) AS BIGINT) AS freq,
         CAST(min(turn_idx) AS INT) AS first_turn
  FROM m GROUP BY conv_id, mention
),
sal AS (
  SELECT conv_id, mention FROM (
    SELECT conv_id, mention,
           row_number() OVER (PARTITION BY conv_id ORDER BY
             freq * 1000000 + 1000000 // (first_turn + 1) DESC, mention ASC)
             AS rn
    FROM per
  ) WHERE rn = 1
),
b AS (
  SELECT conv_id, mention,
         CAST(concat('0x', substr(md5(conv_id), 1, 8)) AS BIGINT) % 10 AS bucket
  FROM sal
)
SELECT conv_id, mention AS stratum, CAST(bucket AS BIGINT) AS bucket,
       CASE WHEN bucket <= 7 THEN 'train'
            WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split
FROM b
"""

# ---------------------------------------------------------------------------
# Q: split balance audit (per-stratum conditional counts over conv_split)
# ---------------------------------------------------------------------------


def q_split_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit a split consumer runs before training: per stratum, how
    many conversations landed in each split (conditional sums in one
    aggregation over the split assignment) — catches a stratum that
    hash-degenerated into a single split."""
    s = q_conv_split(spark, sf_dir)
    return s.groupBy("stratum").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("long")
        .alias("n_train"),
        F.sum(F.when(F.col("split") == "val", 1).otherwise(0))
        .cast("long")
        .alias("n_val"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
        .cast("long")
        .alias("n_test"),
    )

SPLIT_BALANCE_SQL = (
    "WITH s AS (SELECT * FROM ("
    + CONV_SPLIT_SQL
    + """))
SELECT stratum,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
       CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
       CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
FROM s GROUP BY stratum
"""
)

def q_split_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-split corpus sizing (conversations, turns, whitespace tokens,
    integer token share) — what a trainer reads to size epochs and judge
    the 8/1/1 hash split actually delivered ~8/1/1 of the TOKENS, not just
    of the conversations. ZERO joins: the split is a pure function of
    md5(conv_id), so assignment is recomputed map-side on the transcript
    scan (the recomputable-anywhere property the hash-split design buys);
    one 3-group agg + a 1-row broadcast total. share_x1e6 is an exact
    integer quotient; at >9.2e12 total tokens compute it as
    n_tokens DIV (total DIV 1e6) to stay inside BIGINT."""
    tx = transcripts_from_events(spark, sf_dir)
    bucket = F.conv(F.substring(F.md5("conv_id"), 1, 8), 16, 10).cast("long") % 10
    per = (
        tx.select(
            F.when(bucket <= 7, "train")
            .when(bucket == 8, "val")
            .otherwise("test")
            .alias("split"),
            F.col("conv_id"),
            F.size(F.split("text", " ")).cast("long").alias("nt"),
        )
        .groupBy("split")
        .agg(
            F.countDistinct("conv_id").alias("n_convs"),
            F.count(F.lit(1)).alias("n_turns"),
            F.sum("nt").alias("n_tokens"),
        )
    )
    tot = per.agg(F.sum("n_tokens").alias("_tot"))
    return per.crossJoin(F.broadcast(tot)).select(
        "split",
        "n_convs",
        "n_turns",
        "n_tokens",
        F.expr("CAST(n_tokens * 1000000 DIV _tot AS BIGINT)").alias("share_x1e6"),
    )

SPLIT_TOKEN_BUDGET_SQL = f"""
{TX_SQL},
t AS (
  SELECT conv_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
         CAST(concat('0x', substr(md5(conv_id), 1, 8)) AS BIGINT) % 10 AS bucket
  FROM tx
),
per AS (
  SELECT CASE WHEN bucket <= 7 THEN 'train'
              WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split,
         CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
         CAST(count(*) AS BIGINT) AS n_turns,
         CAST(sum(nt) AS BIGINT) AS n_tokens
  FROM t GROUP BY 1
),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt FROM per)
SELECT split, n_convs, n_turns, n_tokens,
       CAST(n_tokens * 1000000 // tt AS BIGINT) AS share_x1e6
FROM per, tot
"""

def q_path_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMIE-lite rule mining over the flagship event graph (graph/rules.py):
    closed Horn rules p1(x,y) ∧ p2(y,z) ⇒ head(x,z) with support and exact
    integer-quotient standard confidence. The distinct endpoint-binding
    body is the one irreducible wedge join — checkpointed once and shared
    by the denominator agg and the head-support join; at scale the
    degree-product budget guard (max_est_paths) fences the wedge before it
    is paid for. Finds the graph's real invariants (e.g. nextEvent ∧
    inConversation ⇒ inConversation at confidence 1.0)."""
    from chronographer_spark.graph.materialize import build_event_graph
    from chronographer_spark.graph.rules import mine_path_rules

    tx = transcripts_from_events(spark, sf_dir)
    g = build_event_graph(tx)
    return mine_path_rules(g, min_support=5)

PATH_RULES_SQL = (
    "WITH g AS (" + FLAGSHIP_SQL + ")\n"
    """, t AS (SELECT subject s, predicate p, object o FROM g),
body AS (SELECT DISTINCT a.s AS x, a.p AS p1, b.p AS p2, b.o AS z
         FROM t a JOIN t b ON a.o = b.s),
np AS (SELECT p1, p2, CAST(count(*) AS BIGINT) AS n_pairs FROM body GROUP BY 1, 2),
sup AS (SELECT body.p1, body.p2, t.p AS head_pred, CAST(count(*) AS BIGINT) AS support
        FROM body JOIN t ON body.x = t.s AND body.z = t.o GROUP BY 1, 2, 3)
SELECT s.p1, s.p2, s.head_pred, s.support, np.n_pairs,
       CAST(s.support * 1000000 // np.n_pairs AS BIGINT) AS conf_x1e6
FROM sup s JOIN np USING (p1, p2) WHERE s.support >= 5
"""
)

# ---------------------------------------------------------------------------
# Q: vocabulary rank movers between doc-id halves
# ---------------------------------------------------------------------------


def q_term_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank_movers applied to token frequencies of the corpus's doc-id
    halves — the vocabulary-shift readout (same-distribution halves, so
    moves are sampling noise: the null calibration again)."""
    from chronographer_spark.operators.ranking import rank_movers

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.split(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " ")
        ).alias("tok"),
    ).filter(F.col("tok") != "")
    half = toks.agg(F.max("doc_id")).first()[0] // 2
    a = toks.filter(F.col("doc_id") <= half).select("tok")
    b = toks.filter(F.col("doc_id") > half).select("tok")
    return rank_movers(a, b, "tok").select(
        "key", "n_a", "n_b", "rank_a", "rank_b", "rank_delta", "status"
    )

TERM_MOVERS_SQL = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(
    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
  FROM documents
),
tk AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
h AS (SELECT CAST(max(doc_id) AS BIGINT) // 2 AS m FROM tk),
ca AS (
  SELECT tok AS key, CAST(count(*) AS BIGINT) AS n_a
  FROM tk, h WHERE doc_id <= h.m GROUP BY tok
),
cb AS (
  SELECT tok AS key, CAST(count(*) AS BIGINT) AS n_b
  FROM tk, h WHERE doc_id > h.m GROUP BY tok
),
ra AS (
  SELECT key, n_a, CAST(row_number() OVER (ORDER BY n_a DESC, key ASC)
         AS BIGINT) AS rank_a FROM ca
),
rb AS (
  SELECT key, n_b, CAST(row_number() OVER (ORDER BY n_b DESC, key ASC)
         AS BIGINT) AS rank_b FROM cb
)
SELECT coalesce(ra.key, rb.key) AS key, n_a, n_b, rank_a, rank_b,
       CAST(rank_a - rank_b AS BIGINT) AS rank_delta,
       CASE WHEN rank_a IS NULL THEN 'new'
            WHEN rank_b IS NULL THEN 'vanished'
            WHEN rank_a - rank_b <> 0 THEN 'moved'
            ELSE 'steady' END AS status
FROM ra FULL OUTER JOIN rb ON ra.key = rb.key
"""

# ---------------------------------------------------------------------------
# Q: order-independent partition checksums of the orders table
# ---------------------------------------------------------------------------


def q_partition_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integrity manifest of orders partitioned by order status: count +
    additive md5-int checksum over (o_orderkey, o_custkey, o_orderdate) —
    the copy-validation readout two engines can compute independently and
    compare, which is exactly what the gate does."""
    from chronographer_spark.io.catalog import partition_checksums

    o = _t(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderkey", "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("od"),
    )
    return partition_checksums(
        o, "o_orderstatus", cols=["o_orderkey", "o_custkey", "od"]
    ).select("partition", "n_rows", "checksum")

PARTITION_CHECKSUMS_SQL = """
SELECT o_orderstatus AS partition,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(concat('0x', substr(md5(
              CAST(o_orderkey AS VARCHAR) || '|' ||
              CAST(o_custkey AS VARCHAR) || '|' ||
              strftime(o_orderdate, '%Y-%m-%d')), 1, 8)) AS BIGINT))
            AS BIGINT) AS checksum
FROM orders GROUP BY o_orderstatus
"""

# ---------------------------------------------------------------------------
# Q: brand rank movers between order-date halves
# ---------------------------------------------------------------------------


def q_brand_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand popularity leaderboard, pre-1998 vs 1998-onward order halves:
    25 brands all present on both sides, so every row is moved/steady —
    the leaderboard-diff companion to type_drift."""
    from chronographer_spark.operators.ranking import rank_movers

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    base = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .select("p_brand", "o_orderdate")
    )
    a = base.filter(F.col("o_orderdate") < "1998-01-01")
    b = base.filter(F.col("o_orderdate") >= "1998-01-01")
    return rank_movers(a, b, "p_brand").select(
        "key", "n_a", "n_b", "rank_a", "rank_b", "rank_delta", "status"
    )

BRAND_MOVERS_SQL = """
WITH base AS (
  SELECT p_brand, o_orderdate
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
),
ca AS (
  SELECT p_brand AS key, CAST(count(*) AS BIGINT) AS n_a
  FROM base WHERE o_orderdate < DATE '1998-01-01' GROUP BY 1
),
cb AS (
  SELECT p_brand AS key, CAST(count(*) AS BIGINT) AS n_b
  FROM base WHERE o_orderdate >= DATE '1998-01-01' GROUP BY 1
),
ra AS (
  SELECT key, n_a,
         CAST(row_number() OVER (ORDER BY n_a DESC, key ASC) AS BIGINT)
           AS rank_a
  FROM ca
),
rb AS (
  SELECT key, n_b,
         CAST(row_number() OVER (ORDER BY n_b DESC, key ASC) AS BIGINT)
           AS rank_b
  FROM cb
)
SELECT coalesce(ra.key, rb.key) AS key, n_a, n_b, rank_a, rank_b,
       CAST(rank_a - rank_b AS BIGINT) AS rank_delta,
       CASE WHEN rank_a IS NULL THEN 'new'
            WHEN rank_b IS NULL THEN 'vanished'
            WHEN rank_a - rank_b <> 0 THEN 'moved'
            ELSE 'steady' END AS status
FROM ra FULL OUTER JOIN rb ON ra.key = rb.key
"""

# ---------------------------------------------------------------------------
# Q: online-CUSUM batch twin (calibration mode) over daily rates
# ---------------------------------------------------------------------------


def q_cusum_online(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming drift detector's batch twin in calibration mode:
    target = per-key empirical bucket mean (exact DIV), thr = 2×target —
    scale-free, so the injected click shift alarms at every sf. The
    parity test ties the stream to this exact semantics; this gate ties
    the semantics to DuckDB."""
    from chronographer_spark.streaming.drift import cusum_stream_batch_twin

    ev = _t(spark, sf_dir, "events").select("event_type", "ts")
    shift = ev.filter(
        (F.col("event_type") == "click")
        & (F.col("ts") >= F.lit("2024-01-21").cast("timestamp"))
    )
    return cusum_stream_batch_twin(
        ev.unionAll(shift), key_col="event_type", ts_col="ts",
        bucket="day", target=None, thr=None, thr_mult=2,
    ).select(
        "key",
        F.date_format("bucket_ts", "yyyy-MM-dd").alias("day"),
        "n_events", "s_scaled", "alarm",
    )

CUSUM_ONLINE_SQL = """
WITH ev AS (
  SELECT event_type, ts FROM events
  UNION ALL
  SELECT event_type, ts FROM events
  WHERE event_type = 'click' AND ts >= TIMESTAMP '2024-01-21'
),
cnt AS (
  SELECT CAST(event_type AS VARCHAR) AS key, date_trunc('day', ts) AS b,
         CAST(count(*) AS BIGINT) AS n
  FROM ev GROUP BY 1, 2
),
pk AS (
  SELECT key, CAST(sum(n) // count(*) AS BIGINT) AS tgt,
         max(b) AS last_b
  FROM cnt GROUP BY key
),
pre AS (
  SELECT c.key, c.b, c.n, p.tgt, p.last_b,
         CAST(sum(c.n - p.tgt) OVER w AS BIGINT) AS p
  FROM cnt c JOIN pk p USING (key)
  WINDOW w AS (PARTITION BY c.key ORDER BY c.b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
st AS (
  SELECT key, b, n, tgt, last_b, p,
         CAST(min(p) OVER (PARTITION BY key ORDER BY b
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS m
  FROM pre
)
SELECT key, strftime(b, '%Y-%m-%d') AS day, n AS n_events,
       CAST(p - least(CAST(0 AS BIGINT), m) AS BIGINT) AS s_scaled,
       CAST(CASE WHEN p - least(CAST(0 AS BIGINT), m) > 2 * tgt
                 THEN 1 ELSE 0 END AS INT) AS alarm
FROM st WHERE b < last_b
"""

# ---------------------------------------------------------------------------
# Q: Soundex phonetic blocking pairs over part-name lead tokens
# ---------------------------------------------------------------------------


def q_soundex_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic ER blocking: part-name tokens plus deterministic
    vowel-rotated misspellings (translate aeiou->oieau — Soundex is
    vowel-blind, so every misspelling rejoins its original's block BY
    CONSTRUCTION, beside genuine collisions like red/rod), paired within
    a shared simplified-Soundex code — the sound-alike candidate set
    spelling-distance blocking (snm_levenshtein, ED-1) cannot produce."""
    from chronographer_spark.functions.scalars import soundex_expr

    part = _t(spark, sf_dir, "part")
    base = part.select(
        F.explode(F.split(F.col("p_name"), " ")).alias("tok")
    ).distinct()
    toks = base.unionByName(
        base.select(F.translate("tok", "aeiou", "oieau").alias("tok"))
    ).distinct()
    coded = toks.select(
        "tok", soundex_expr(F.col("tok")).alias("code")
    ).filter(F.col("code") != "")
    a = coded.select(F.col("code"), F.col("tok").alias("tok_a"))
    b = coded.select(F.col("code"), F.col("tok").alias("tok_b"))
    return a.join(b, "code").filter(F.col("tok_a") < F.col("tok_b")).select(
        "code", "tok_a", "tok_b"
    )

SOUNDEX_BLOCKS_SQL = """
WITH base AS (
  SELECT DISTINCT unnest(string_split(p_name, ' ')) AS tok FROM part
),
toks AS (
  SELECT DISTINCT tok FROM (
    SELECT tok FROM base
    UNION ALL
    SELECT translate(tok, 'aeiou', 'oieau') FROM base
  )
),
s AS (
  SELECT tok, upper(regexp_replace(tok, '[^A-Za-z]', '', 'g')) AS su
  FROM toks
),
c AS (
  SELECT tok, su,
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           regexp_replace(regexp_replace(
             translate(su, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                           '01230120022455012623010202'),
           '11+', '1', 'g'), '22+', '2', 'g'), '33+', '3', 'g'),
           '44+', '4', 'g'), '55+', '5', 'g'), '66+', '6', 'g') AS code0
  FROM s
),
sx AS (
  SELECT tok,
         CASE WHEN su = '' THEN ''
              ELSE substr(su, 1, 1) ||
                   rpad(substr(regexp_replace(substr(code0, 2), '0', '', 'g'),
                        1, 3), 3, '0')
         END AS code
  FROM c
)
SELECT a.code AS code, a.tok AS tok_a, b.tok AS tok_b
FROM sx a JOIN sx b ON a.code = b.code AND a.tok < b.tok
WHERE a.code <> ''
"""

# ---------------------------------------------------------------------------
# Q: persistent daily top-k heavy hitters
# ---------------------------------------------------------------------------


def q_persistent_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users appearing in the daily top-10 by event count on >= 3 days —
    persistence separates every-day power users from one-day spikes that
    top a single chart."""
    from chronographer_spark.operators.ranking import persistent_topk

    ev = _t(spark, sf_dir, "events")
    return persistent_topk(ev, "user_id", "ts", k=10, min_days=3)

PERSISTENT_USERS_SQL = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT user_id, d, n,
         row_number() OVER (PARTITION BY d ORDER BY n DESC, user_id ASC)
           AS rk
  FROM daily
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS days_in_topk,
       CAST(min(rk) AS BIGINT) AS best_rank,
       CAST(sum(n) AS BIGINT) AS total_in_topk
FROM ranked WHERE rk <= 10
GROUP BY user_id
HAVING count(*) >= 3
"""

# ---------------------------------------------------------------------------
# Q: vocabulary richness of the documents corpus
# ---------------------------------------------------------------------------


def q_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio, hapax/dis legomena counts, and msb-quantized
    Herdan C (log vocab / log tokens) — the vocabulary-health card
    beside zipf_slope_docs: shrinking TTR or a hapax share collapsing
    toward 0 flags template/boilerplate corpora before any model sees
    them. All ratios staged integer quotients; Herdan C uses the
    bin()-length msb logs so it replays exactly."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != F.lit(""))
    vocab = (
        docs.select(F.explode(toks).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    return vocab.agg(
        F.count(F.lit(1)).cast("long").alias("n_vocab"),
        F.sum("f").cast("long").alias("n_tokens"),
        F.sum((F.col("f") == 1).cast("long")).cast("long").alias("n_hapax"),
        F.sum((F.col("f") == 2).cast("long")).cast("long").alias("n_dis"),
    ).select(
        "n_vocab",
        "n_tokens",
        "n_hapax",
        "n_dis",
        F.expr(
            "n_vocab DIV n_tokens * CAST(1000000 AS BIGINT)"
            " + n_vocab % n_tokens * CAST(1000000 AS BIGINT) DIV n_tokens"
        ).alias("ttr_x1e6"),
        F.expr(
            "n_hapax * CAST(1000000 AS BIGINT) DIV greatest(n_vocab, 1)"
        ).alias("hapax_share_x1e6"),
        F.expr(
            "CAST((length(bin(n_vocab)) - 1) AS BIGINT)"
            " * CAST(1000000 AS BIGINT)"
            " DIV greatest(CAST(length(bin(n_tokens)) - 1 AS BIGINT), 1)"
        ).alias("herdan_c_msb_x1e6"),
    )

VOCAB_RICHNESS_SQL = """
WITH vocab AS (
  SELECT t, CAST(count(*) AS BIGINT) AS f
  FROM documents, unnest(string_split(text, ' ')) AS u(t)
  WHERE t <> ''
  GROUP BY 1
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_vocab,
         CAST(sum(f) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
         CAST(sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dis
  FROM vocab
)
SELECT n_vocab, n_tokens, n_hapax, n_dis,
       CAST(n_vocab // n_tokens * CAST(1000000 AS BIGINT)
            + n_vocab % n_tokens * CAST(1000000 AS BIGINT) // n_tokens
            AS BIGINT) AS ttr_x1e6,
       CAST(n_hapax * CAST(1000000 AS BIGINT) // greatest(n_vocab, 1)
            AS BIGINT) AS hapax_share_x1e6,
       CAST(CAST(length(bin(n_vocab)) - 1 AS BIGINT)
            * CAST(1000000 AS BIGINT)
            // greatest(CAST(length(bin(n_tokens)) - 1 AS BIGINT), 1)
            AS BIGINT) AS herdan_c_msb_x1e6
FROM m
"""

# ---------------------------------------------------------------------------
# Q: characteristic sets (Neumann & Moerkotte) — structure synopsis +
# star-join cardinality estimation (operators/cardinality.py)
# ---------------------------------------------------------------------------


def _user_type_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """high-value events as a (subject=user, predicate=event_type) triple
    view — the entity-shape table characteristic sets summarize. The
    value >= 90 restriction makes shapes DIFFER across users (15 distinct
    sets at sf0.01; unfiltered, every user carries all 5 types and the
    synopsis degenerates to one row)."""
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("value") >= 90)
        .select(
            F.col("user_id").cast("string").alias("subject"),
            F.col("event_type").alias("predicate"),
        )
    )

def q_char_sets_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Characteristic sets of the user/event-type shape table: one row per
    distinct predicate SET with subject and triple counts — the exact
    structure synopsis an RDF optimizer prices star joins from, and a
    schema-discovery readout (which entity shapes exist) the reference
    cannot produce. Two combinable aggs, no joins."""
    from chronographer_spark.operators.cardinality import characteristic_sets

    return characteristic_sets(_user_type_triples(spark, sf_dir))

CHAR_SETS_USERS_SQL = """
WITH per AS (
  SELECT CAST(user_id AS VARCHAR) AS s, event_type AS p, count(*) AS n
  FROM events WHERE value >= 90 GROUP BY 1, 2
),
cs AS (
  SELECT s, array_to_string(list_sort(list(p)), '|') AS cs_key,
         CAST(sum(n) AS BIGINT) AS nt
  FROM per GROUP BY s
)
SELECT cs_key, CAST(count(*) AS BIGINT) AS n_subjects,
       CAST(sum(nt) AS BIGINT) AS n_triples
FROM cs GROUP BY 1
"""

def q_char_sets_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Characteristic sets over the FLAGSHIP EVENT GRAPH itself: event
    nodes split into shapes by which optional predicates they carry
    (usedTool on tool turns, timestamps on date-mentioning turns,
    nextEvent absent on last turns), conversation nodes into their own
    set — the per-shape census of the KG this engine emits. Oracle
    recomputes the graph via FLAGSHIP_SQL and collapses it identically."""
    from chronographer_spark.data.transcripts import conv_string_expr, transcripts_from_events_longkey
    from chronographer_spark.graph.materialize import build_event_graph
    from chronographer_spark.operators.cardinality import characteristic_sets

    g = build_event_graph(
        transcripts_from_events_longkey(spark, sf_dir),
        conv_expr=conv_string_expr(),
    )
    return characteristic_sets(g)

CHAR_SETS_GRAPH_SQL = f"""
WITH per AS (
  SELECT subject AS s, predicate AS p, count(*) AS n
  FROM ({FLAGSHIP_SQL}) g GROUP BY 1, 2
),
cs AS (
  SELECT s, array_to_string(list_sort(list(p)), '|') AS cs_key,
         CAST(sum(n) AS BIGINT) AS nt
  FROM per GROUP BY s
)
SELECT cs_key, CAST(count(*) AS BIGINT) AS n_subjects,
       CAST(sum(nt) AS BIGINT) AS n_triples
FROM cs GROUP BY 1
"""

def q_star_card_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-join pricing from characteristic sets: estimate
    |?s click ?o1 . ?s view ?o2| via the per-set multiplicity formula
    (exact integer quotients: Σ_S t1·t2 DIV n_subjects) next to the true
    cardinality (Σ_s n1·n2) — the estimator-accuracy readout; the gap is
    exactly the within-set non-uniformity the paper's assumption names."""
    from chronographer_spark.operators.cardinality import star_cardinality_estimate

    return star_cardinality_estimate(
        _user_type_triples(spark, sf_dir), ["click", "view"]
    )

STAR_CARD_ESTIMATE_SQL = """
WITH per AS (
  SELECT CAST(user_id AS VARCHAR) AS s, event_type AS p, count(*) AS n
  FROM events WHERE value >= 90 GROUP BY 1, 2
),
wide AS (
  SELECT s,
         CAST(sum(CASE WHEN p = 'click' THEN n ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN p = 'view' THEN n ELSE 0 END) AS BIGINT) AS n2,
         array_to_string(list_sort(list(p)), '|') AS cs_key
  FROM per GROUP BY s
),
both_t AS (SELECT * FROM wide WHERE n1 > 0 AND n2 > 0),
sets AS (
  SELECT cs_key, CAST(count(*) AS BIGINT) AS ns,
         CAST(sum(n1) AS BIGINT) AS t1, CAST(sum(n2) AS BIGINT) AS t2
  FROM both_t GROUP BY 1
)
SELECT (SELECT CAST(sum(t1 * t2 // ns) AS BIGINT) FROM sets) AS est_rows,
       (SELECT CAST(sum(n1 * n2) AS BIGINT) FROM both_t) AS true_rows
"""

def q_salted_count_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key counting through the explicit two-level salted aggregation
    (operators/skew.py salted_count) — the extreme-hub fallback when
    map-side combine is defeated by pre-partitioning. The oracle is the
    PLAIN count: salting must never change results (soak_skew.py measured
    it cost-neutral; this row certifies it value-neutral)."""
    from chronographer_spark.operators.skew import salted_count

    ev = _t(spark, sf_dir, "events")
    return salted_count(ev, ["event_type"], salt_buckets=16).select(
        "event_type", F.col("count").cast("long").alias("n_events")
    )

SALTED_COUNT_TYPES_SQL = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY 1
"""

def q_salted_join_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonicalization-style fact-to-dim join through skew.py
    salted_join (small side replicated S ways, big side scattered across
    salt buckets): per-nation order count + exact integer-cents revenue.
    Oracle = the plain equi-join — salting is a pure physical rewrite."""
    from chronographer_spark.operators.skew import salted_join

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_nationkey"
    )
    return (
        salted_join(orders, cust, "custkey", salt_buckets=8)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
    )

SALTED_JOIN_NATION_SQL = """
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1
"""

# ---------------------------------------------------------------------------
# Q: Deequ-style declarative data-quality suite over orders (+ FK checks)
# ---------------------------------------------------------------------------


def q_dq_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass declarative quality suite on orders: completeness and
    key uniqueness pass at exactly 1e6, o_custkey uniqueness honestly
    FAILS its 1e6 threshold (customers repeat — the misdeclared-key
    alarm), status values all in {O,F,P}, and a deliberately tight price
    range fails — the mixed verdict sheet an ingestion gate publishes."""
    from chronographer_spark.operators.dq import run_checks

    o = _t(spark, sf_dir, "orders")
    checks = [
        ("completeness", "o_custkey", None, 1000000),
        ("completeness", "o_orderdate", None, 1000000),
        ("uniqueness", "o_orderkey", None, 1000000),
        ("uniqueness", "o_custkey", None, 1000000),
        ("in_set", "o_orderstatus", ["O", "F", "P"], 1000000),
        ("in_range", "o_totalprice", (0.0, 1000.0), 900000),
    ]
    return run_checks(o, checks)

DQ_SUITE_SQL = """
WITH m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(o_custkey) AS BIGINT) AS m0,
         CAST(count(o_orderdate) AS BIGINT) AS m1,
         CAST(count(DISTINCT o_orderkey) AS BIGINT) AS m2,
         CAST(count(DISTINCT o_custkey) AS BIGINT) AS m3,
         CAST(sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END)
              AS BIGINT) AS m4,
         CAST(sum(CASE WHEN o_totalprice BETWEEN 0.0 AND 1000.0
                  THEN 1 ELSE 0 END) AS BIGINT) AS m5
  FROM orders
)
SELECT 'completeness' AS "check", 'o_custkey' AS "column",
       CAST(m0 * 1000000 // n AS BIGINT) AS metric_x1e6,
       CAST(1000000 AS BIGINT) AS min_x1e6,
       m0 * 1000000 // n >= 1000000 AS passed FROM m
UNION ALL SELECT 'completeness', 'o_orderdate',
       CAST(m1 * 1000000 // n AS BIGINT), 1000000,
       m1 * 1000000 // n >= 1000000 FROM m
UNION ALL SELECT 'uniqueness', 'o_orderkey',
       CAST(m2 * 1000000 // n AS BIGINT), 1000000,
       m2 * 1000000 // n >= 1000000 FROM m
UNION ALL SELECT 'uniqueness', 'o_custkey',
       CAST(m3 * 1000000 // n AS BIGINT), 1000000,
       m3 * 1000000 // n >= 1000000 FROM m
UNION ALL SELECT 'in_set', 'o_orderstatus',
       CAST(m4 * 1000000 // n AS BIGINT), 1000000,
       m4 * 1000000 // n >= 1000000 FROM m
UNION ALL SELECT 'in_range', 'o_totalprice',
       CAST(m5 * 1000000 // n AS BIGINT), 900000,
       m5 * 1000000 // n >= 900000 FROM m
"""

def q_dq_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity rows for the two fact->dim edges of the
    order graph (lineitem->orders, orders->customer): orphan counts and
    the integrity fraction — both clean in this corpus, which is exactly
    what the check certifies before a publish."""
    from chronographer_spark.operators.dq import referential_check

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    a = referential_check(li, "l_orderkey", o, "o_orderkey")
    b = referential_check(o, "o_custkey", c, "c_custkey")
    return a.unionByName(b)

DQ_REFERENTIAL_SQL = """
SELECT 'referential' AS "check", 'l_orderkey' AS "column",
       CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_rows,
       CAST((SELECT count(*) FROM lineitem l WHERE l.l_orderkey IS NULL
             OR NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
         AS n_orphans,
       CAST(((SELECT count(*) FROM lineitem)
             - (SELECT count(*) FROM lineitem l WHERE l.l_orderkey IS NULL
                OR NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey)))
            * 1000000 // (SELECT count(*) FROM lineitem) AS BIGINT)
         AS metric_x1e6
UNION ALL
SELECT 'referential', 'o_custkey',
       CAST((SELECT count(*) FROM orders) AS BIGINT),
       CAST((SELECT count(*) FROM orders o WHERE o.o_custkey IS NULL
             OR NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
       CAST(((SELECT count(*) FROM orders)
             - (SELECT count(*) FROM orders o WHERE o.o_custkey IS NULL
                OR NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey)))
            * 1000000 // (SELECT count(*) FROM orders) AS BIGINT)
"""

# ---------------------------------------------------------------------------
# Q: k-anonymity/l-diversity audit + water-filling budget allocation
# ---------------------------------------------------------------------------


def q_k_anonymity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit (dq.k_anonymity_report) over the
    (lang, source) quasi-identifier with length bands as the sensitive
    attribute — the privacy screen before a corpus ships (the EVENT-side
    risk profile lives under the `k_anonymity` key)."""
    from chronographer_spark.operators.dq import k_anonymity_report

    docs = _t(spark, sf_dir, "documents").withColumn(
        "band", F.expr("CAST(n_chars DIV 200 AS BIGINT)")
    )
    return k_anonymity_report(docs, ["lang", "source"], "band", k=5)

K_ANONYMITY_DOCS_SQL = """
WITH g AS (
  SELECT lang || '|' || source AS group_key,
         CAST(n_chars // 200 AS VARCHAR) AS sv
  FROM documents
)
SELECT group_key, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT sv) AS BIGINT) AS l_div,
       CAST(CASE WHEN count(*) >= 5 THEN 1 ELSE 0 END AS BIGINT) AS k_ok,
       CAST(CASE WHEN count(DISTINCT sv) >= 2 THEN 1 ELSE 0 END AS BIGINT)
         AS l_ok
FROM g GROUP BY group_key
"""


def q_daily_append_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One daily-append step of the composed nightly job
    (pipeline_append.py): turns with turn_idx >= 5 are the day's batch,
    turn 4 per conversation is the checkpointed bridge tail; delta
    triples build over (bridge + batch) ONLY (no history scan), the
    nextEvent delta feeds incremental_components against the prior
    history labeling (precontracted), and the output is the MERGE-sized
    delta emit joined with per-event delta triple counts. The oracle
    replays the triple emission via the flagship SQL restricted by the
    identical delta rule and labels every batch event with its
    conversation head."""
    from chronographer_spark.graph.materialize import build_event_graph, event_uri_col
    from chronographer_spark.linking.canonicalize import (
        connected_components,
        incremental_components,
    )
    from chronographer_spark.pipeline_append import delta_triples
    from chronographer_spark.vocab import NEXT_EVENT

    tx = transcripts_from_events(spark, sf_dir).localCheckpoint(eager=True)
    cut = 5
    hist = tx.filter(F.col("turn_idx") < cut)
    batch = tx.filter(F.col("turn_idx") >= cut)
    bridge = tx.filter(F.col("turn_idx") == cut - 1)
    delta = delta_triples(batch, bridge).localCheckpoint(eager=True)
    edges = delta.filter(F.col("predicate") == NEXT_EVENT).select(
        F.col("subject").alias("src"), F.col("object").alias("dst")
    )
    hist_graph = build_event_graph(hist)
    hist_edges = hist_graph.filter(F.col("predicate") == NEXT_EVENT).select(
        F.col("subject").alias("src"), F.col("object").alias("dst")
    )
    hist_nodes = hist.select(event_uri_col().alias("node")).distinct()
    prior = connected_components(
        hist_edges, all_nodes=hist_nodes, precontract=True
    ).localCheckpoint(eager=True)
    out = incremental_components(prior, edges, emit="delta")
    counts = delta.groupBy("subject").agg(
        F.count(F.lit(1)).cast("long").alias("n_out_triples")
    )
    return out.join(counts, out["node"] == counts["subject"]).select(
        "node",
        F.col("component").alias("canonical"),
        "n_out_triples",
    )

DAILY_APPEND_STEP_SQL = (
    "WITH g AS (" + FLAGSHIP_SQL + "),\n"
    + "b AS (" + TX_SQL + """
  SELECT 'ng:event/' || conv_id || '/' || CAST(turn_idx AS VARCHAR) AS node,
         conv_id
  FROM tx WHERE turn_idx >= 5),
delta AS (
  SELECT subject, predicate, object FROM g
  WHERE subject IN (SELECT node FROM b)
     OR (predicate IN ('sem:hasSubEvent', 'ng:nextEvent')
         AND object IN (SELECT node FROM b))
)
SELECT b.node,
       'ng:event/' || b.conv_id || '/0' AS canonical,
       CAST(c.n AS BIGINT) AS n_out_triples
FROM b JOIN (SELECT subject, count(*) AS n FROM delta GROUP BY subject) c
  ON c.subject = b.node
"""
)


QUERIES = {
    "daily_append_step": q_daily_append_step,
    "k_anonymity_docs": q_k_anonymity_docs,
    "dq_suite": q_dq_suite,
    "dq_referential": q_dq_referential,
    "event_search_2iter": q_event_search,
    "info_counters": q_info_counters,
    "triple_prf1": q_triple_prf1,
    "scan_filter_chain": q_scan_filter_chain,
    "wikidata_scan_chain": q_wikidata_scan_chain,
    "entity_type_discard": q_entity_type_discard,
    "frame_count_per_event": q_frame_count_per_event,
    "sem_emission_rules": q_sem_emission_rules,
    "flagship_event_graph": q_flagship_event_graph,
    "transcripts_view": q_transcripts_view,
    "occurrence_count": q_occurrence_count,
    "frontier_expand_outgoing": q_frontier_expand_outgoing,
    "two_hop_expand": q_two_hop_expand,
    "anti_join_visited": q_anti_join_visited,
    "temporal_discard": q_temporal_discard,
    "regex_year_discard": q_regex_year_discard,
    "superclass_annotate": q_superclass_annotate,
    "window_lead_next": q_window_lead_next,
    "window_first_mention": q_window_first_mention,
    "minmax_dates": q_minmax_dates,
    "dedup_exact": q_dedup_exact,
    "set_except": q_set_except,
    "count_unique_events": q_count_unique_events,
    "event_prf1": q_event_prf1,
    "token_count": q_token_count,
    "lang_id": q_lang_id,
    "doc_fingerprint": q_doc_fingerprint,
    "minhash_signature": q_minhash_signature,
    "vocab_mentions": q_vocab_mentions,
    "cosine_topk": q_cosine_topk,
    "split_token_budget": q_split_token_budget,
    "path_rules": q_path_rules,
    "shape_violations": q_shape_violations,
    "rdfs_closure": q_rdfs_closure,
    "kg_profile": q_kg_profile,
    "entity_salience": q_entity_salience,
    "entity_timeline_edges": q_entity_timeline_edges,
    "transition_reciprocity": q_transition_reciprocity,
    "hourly_profile": q_hourly_profile,
    "conv_split": q_conv_split,
    "split_balance": q_split_balance,
    "zorder_values": q_zorder_values,
    "rollup_orders": q_rollup_orders,
    "pivot_event_counts": q_pivot_event_counts,
    "quantiles_by_type": q_quantiles_by_type,
    "props_json_stats": q_props_json_stats,
    "stratified_sample": q_stratified_sample,
    "sql_revenue_by_nation": q_sql_revenue_by_nation,
    "salted_count_types": q_salted_count_types,
    "salted_join_nation": q_salted_join_nation,
    "char_sets_users": q_char_sets_users,
    "char_sets_graph": q_char_sets_graph,
    "star_card_estimate": q_star_card_estimate,
    "cusum_online": q_cusum_online,
    "brand_movers": q_brand_movers,
    "partition_checksums": q_partition_checksums,
    "term_movers": q_term_movers,
    "cube_orders": q_cube_orders,
    "soundex_blocks": q_soundex_blocks,
    "persistent_users": q_persistent_users,
    "vocab_richness": q_vocab_richness,
}

ORACLE_SQL = {
    "daily_append_step": DAILY_APPEND_STEP_SQL,
    "k_anonymity_docs": K_ANONYMITY_DOCS_SQL,
    "dq_suite": DQ_SUITE_SQL,
    "dq_referential": DQ_REFERENTIAL_SQL,
    "event_search_2iter": EVENT_SEARCH_SQL,
    "info_counters": INFO_COUNTERS_SQL,
    "triple_prf1": TRIPLE_PRF1_SQL,
    "scan_filter_chain": SCAN_FILTER_SQL,
    "wikidata_scan_chain": WIKIDATA_SCAN_SQL,
    "entity_type_discard": ENTITY_DISCARD_SQL,
    "frame_count_per_event": FRAME_COUNT_SQL,
    "sem_emission_rules": SEM_EMISSION_SQL,
    "flagship_event_graph": FLAGSHIP_SQL,
    "transcripts_view": TX_VIEW_SQL,
    "occurrence_count": 'SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type',
    "frontier_expand_outgoing": FRONTIER_OUT_SQL,
    "two_hop_expand": TWO_HOP_SQL,
    "anti_join_visited": ANTI_JOIN_SQL,
    "temporal_discard": TEMPORAL_DISCARD_SQL,
    "regex_year_discard": REGEX_DISCARD_SQL,
    "superclass_annotate": SUPERCLASS_SQL,
    "window_lead_next": WINDOW_LEAD_SQL,
    "window_first_mention": WINDOW_FIRST_SQL,
    "minmax_dates": MINMAX_SQL,
    "dedup_exact": DEDUP_EXACT_SQL,
    "set_except": SET_EXCEPT_SQL,
    "count_unique_events": COUNT_UNIQUE_SQL,
    "event_prf1": PRF1_SQL,
    "token_count": TOKEN_COUNT_SQL,
    "lang_id": LANG_ID_SQL,
    "doc_fingerprint": FINGERPRINT_SQL,
    "minhash_signature": MINHASH_SQL,
    "vocab_mentions": VOCAB_MENTIONS_SQL,
    "cosine_topk": COSINE_TOPK_SQL,
    "split_token_budget": SPLIT_TOKEN_BUDGET_SQL,
    "path_rules": PATH_RULES_SQL,
    "shape_violations": SHAPE_VIOLATIONS_SQL,
    "rdfs_closure": RDFS_CLOSURE_SQL,
    "kg_profile": KG_PROFILE_SQL,
    "entity_salience": ENTITY_SALIENCE_SQL,
    "entity_timeline_edges": ENTITY_TIMELINE_SQL,
    "transition_reciprocity": TRANSITION_RECIPROCITY_SQL,
    "hourly_profile": HOURLY_PROFILE_SQL,
    "conv_split": CONV_SPLIT_SQL,
    "split_balance": SPLIT_BALANCE_SQL,
    "zorder_values": ZORDER_SQL,
    "rollup_orders": ROLLUP_SQL,
    "pivot_event_counts": PIVOT_SQL,
    "quantiles_by_type": QUANTILES_SQL,
    "props_json_stats": PROPS_JSON_SQL,
    "stratified_sample": STRATIFIED_SQL,
    "sql_revenue_by_nation": SQL_REVENUE_SQL,
    "salted_count_types": SALTED_COUNT_TYPES_SQL,
    "salted_join_nation": SALTED_JOIN_NATION_SQL,
    "char_sets_users": CHAR_SETS_USERS_SQL,
    "char_sets_graph": CHAR_SETS_GRAPH_SQL,
    "star_card_estimate": STAR_CARD_ESTIMATE_SQL,
    "cusum_online": CUSUM_ONLINE_SQL,
    "brand_movers": BRAND_MOVERS_SQL,
    "partition_checksums": PARTITION_CHECKSUMS_SQL,
    "term_movers": TERM_MOVERS_SQL,
    "cube_orders": CUBE_SQL,
    "soundex_blocks": SOUNDEX_BLOCKS_SQL,
    "persistent_users": PERSISTENT_USERS_SQL,
    "vocab_richness": VOCAB_RICHNESS_SQL,
}
