"""Set-oriented frontier expansion.

The reference expands one node at a time through HDT index lookups
(reference: src/interface.py:119-163, driven per node in
src/framework.py:546-556). Here the whole frontier expands in ONE pass:
three hash joins against the triple table (the north rule's "iterative
DataFrame self-joins"), executor-parallel, broadcast when the frontier is
small.

Direction semantics (interface.py:173-179):
- ingoing:  (s, p, n) for frontier node n  -> join on object
- outgoing: (n, p, o) for frontier node n  -> join on subject
- spec. outgoing: for every neighbor found, its rdf:type + date triples
  (interface.py:146-163) -> 2-hop semi-join restricted to `default_preds`
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def expand_frontier(
    triples: DataFrame,
    nodes: list[str],
    predicate_filter: list[str] | None = None,
    default_preds: list[str] | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """-> (ingoing, outgoing, type_date) for the whole frontier at once.

    `nodes` is the frontier as a driver-side list (the search caps it at
    `max_uri` nodes), so the two frontier joins are IN-list filters and
    need no broadcast job. `predicate_filter` is the drop list (F1,
    interface.py:44-50); `default_preds` the type/date predicates for the
    2-hop lookup (J3).
    """
    base = triples
    if predicate_filter:
        base = base.filter(~F.col("predicate").isin(predicate_filter))
    ingoing = base.filter(F.col("object").isin(nodes)).select(
        "subject", "predicate", "object"
    )
    outgoing = base.filter(F.col("subject").isin(nodes)).select(
        "subject", "predicate", "object"
    )

    # neighbors = ingoing subjects + outgoing objects (skip literals); only
    # ever the right side of a semi-join, so duplicates are harmless and
    # deduplicating them would cost a shuffle
    neighbors = (
        ingoing.select(F.col("subject").alias("node"))
        .unionByName(outgoing.select(F.col("object").alias("node")))
        .filter(F.col("node").startswith("http"))
    )
    spec = triples
    if default_preds:
        spec = spec.filter(F.col("predicate").isin(default_preds))
    type_date = spec.join(
        neighbors, spec["subject"] == neighbors["node"], "left_semi"
    ).select("subject", "predicate", "object")

    return ingoing, outgoing, type_date


def keep_set(
    type_date: DataFrame,
    to_discard: DataFrame,
    target_classes: list[str],
    superclasses: DataFrame | None,
) -> DataFrame:
    """F9 — subgraph admission (expansion.py:104-112): nodes typed with a
    target class, or with any class whose superclass chain hits a target,
    minus the discard set. A node may be listed more than once: the set is
    only ever semi-joined against, and deduplicating it would cost a
    shuffle."""
    typed = type_date.filter(F.col("object").isin(target_classes))
    if superclasses is not None:
        # classes whose ancestor set intersects the targets
        tgt = F.array([F.lit(t) for t in target_classes])
        extra = superclasses.filter(F.arrays_overlap("ancestors", tgt)).select(
            F.col("class").alias("cls")
        )
        typed = typed.unionByName(
            type_date.join(
                F.broadcast(extra), type_date["object"] == extra["cls"], "left_semi"
            )
        )
    return typed.select(F.col("subject").alias("node")).join(
        to_discard, "node", "left_anti"
    )


def split_subgraph_pending(
    ingoing: DataFrame,
    outgoing: DataFrame,
    type_date: DataFrame,
    to_discard: DataFrame,
    target_classes: list[str],
    superclasses: DataFrame | None,
    *,
    type_date_empty: bool,
    broadcast: bool,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """F9/F10 — (subgraph_in, pending_in, subgraph_out, pending_out).

    Empty-type edge case (expansion.py:93-98): when type_date is empty, all
    neighbors are discarded — pending comes out empty because every node
    anti-joins against itself via the discard set. The caller passes
    whether type_date is empty (it observed its row count), and
    `broadcast=True` when it knows the node sets are small: their size
    estimate may be unknown (e.g. over a checkpoint), which would plan
    shuffle joins.
    """
    if type_date_empty:
        empty = ingoing.sparkSession.createDataFrame([], ingoing.schema)
        return empty, empty, empty, empty

    if broadcast:
        to_discard = F.broadcast(to_discard)
    keep = keep_set(type_date, to_discard, target_classes, superclasses)
    if broadcast:
        keep = F.broadcast(keep)

    sub_in = ingoing.join(
        keep, ingoing["subject"] == keep["node"], "left_semi"
    ).select("subject", "predicate", "object")
    pend_in = ingoing.join(
        to_discard, ingoing["subject"] == to_discard["node"], "left_anti"
    ).select("subject", "predicate", "object")
    sub_out = outgoing.join(
        keep, outgoing["object"] == keep["node"], "left_semi"
    ).select("subject", "predicate", "object")
    pend_out = outgoing.join(
        to_discard, outgoing["object"] == to_discard["node"], "left_anti"
    ).select("subject", "predicate", "object")
    return sub_in, pend_in, sub_out, pend_out
