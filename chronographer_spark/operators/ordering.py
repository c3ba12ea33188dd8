"""Superclass annotation + per-iteration info counters.

Re-expression of the reference Ordering class (reference:
src/ordering.py:71-174): pending ingoing triples are annotated with the
superclasses of their predicate's *domain* classes; outgoing with the
*range* classes. The reference does per-row dict lookups
(ordering.py:150-174 `helper_func`); here it is a broadcast join against a
precomputed (predicate -> superclass array) closure table — one narrow join,
no Python.

Exact parity detail: in the reference's plain branch the annotation is
`[y for elt in lookup[pred] for y in superclasses[elt]]` — the *ancestors*
of the domain/range classes, not the classes themselves (ordering.py:162-164).
We reproduce that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_pred_closure(
    pred_classes: DataFrame, superclasses: DataFrame
) -> DataFrame:
    """(predicate, classes arr) x (class, ancestors arr)
    -> (predicate, superclass arr) with ancestors flattened per predicate,
    sorted so the array does not depend on shuffle order."""
    exploded = pred_classes.select("predicate", F.explode("classes").alias("cls"))
    sup = superclasses.select(
        F.col("class").alias("cls"), F.explode("ancestors").alias("anc")
    )
    joined = exploded.join(sup, "cls", "inner").select("predicate", "anc")
    return joined.groupBy("predicate").agg(
        F.array_sort(F.array_distinct(F.collect_list("anc"))).alias("superclass")
    )


def annotate_superclass(
    triple_df: DataFrame,
    pred_closure: DataFrame,
    domain_range: bool = True,
    pred_rewrite: "Callable[[F.Column], F.Column] | None" = None,
) -> DataFrame:
    """Attach `superclass array<string>` per pending triple (J4).

    `pred_rewrite` is the C6 constraint-prefix rewrite (reference
    ordering.py:152): Wikidata constraint tables key on the entity form
    `wd:Pnnn` while triples carry `wdt:Pnnn` — pass
    `DatasetProfile.constraint_pred_rewrite` to map the join key before the
    broadcast lookup. The rewrite only touches the join key, never the
    emitted predicate column.
    """
    if not domain_range:
        return triple_df.withColumn(
            "superclass", F.array().cast("array<string>")
        )
    if pred_rewrite is not None:
        key = pred_rewrite(F.col("predicate"))
        lookup = F.broadcast(
            pred_closure.withColumnRenamed("predicate", "__cpred")
        )
        out = triple_df.withColumn("__cpred", key).join(
            lookup, "__cpred", "left"
        ).drop("__cpred")
    else:
        out = triple_df.join(F.broadcast(pred_closure), "predicate", "left")
    return out.withColumn(
        "superclass",
        F.coalesce(F.col("superclass"), F.array().cast("array<string>")),
    )


def info_counters(
    annotated: DataFrame, type_node: str, focus: list[str]
) -> DataFrame:
    """A5 — per-iteration diagnostics (ordering.py:110-143): row count, rows
    with nonempty superclass, rows whose superclass intersects the focus set."""
    focus_arr = F.array([F.lit(x) for x in focus])
    return annotated.agg(
        F.count("*").alias(type_node),
        F.sum(F.when(F.size("superclass") > 0, 1).otherwise(0)).alias(
            f"{type_node}_annotated"
        ),
        F.sum(
            F.when(
                (F.size("superclass") > 0)
                & F.arrays_overlap("superclass", focus_arr),
                1,
            ).otherwise(0)
        ).alias(f"{type_node}_relevant"),
    )
