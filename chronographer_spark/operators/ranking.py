"""Path occurrence aggregation + ranking (argmax with pinned tie-break).

Columnar re-expression of the reference's stringly-keyed path dict
(reference: src/framework.py:571-597 `"{1|3}-{dir}-{pred};{endpoint}"`)
and Ranker (reference: src/ranker.py:31-82):

- occurrence rows keep (priority, direction, predicate, endpoint) as columns;
- priority: 1 if the pending row's superclass chain contains a target type,
  3 otherwise (framework.py:564-569; class 2 is a dead branch);
- ranking restricts to the best (lowest) priority class present
  (ranker.py:31-38), then:
  - *_freq: argmax count, band-filtered to low < count < high with fallback
    to unfiltered when the band is empty (ranker.py:40-51);
  - inverse_*: argmin count (no band per reference semantics path);
  - entropy_*: score = -(c/tot)*ln(c/tot) over the full (unbanded) dict,
    argmax score (ranker.py:58-64, 76-79);
- deterministic total order replaces dict insertion order:
  ties break on (direction, predicate, endpoint) ascending
  (SURVEY.md §4 determinism rules).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def occurrence_keys(
    pending: DataFrame,
    direction: str,
    target_types: list[str],
    mode: str = "pred_object",
) -> DataFrame:
    """pending (with superclass col) -> one path-key row per pending row.

    mode='pred' keys on predicate only; 'pred_object' adds the endpoint
    (object for ingoing, subject for outgoing — framework.py:590-596).
    """
    tgt = F.array([F.lit(t) for t in target_types])
    priority = F.when(F.arrays_overlap("superclass", tgt), F.lit(1)).otherwise(
        F.lit(3)
    )
    if mode == "pred":
        return pending.select(
            priority.alias("priority"),
            F.lit(None).cast("string").alias("direction"),
            F.col("predicate"),
            F.lit(None).cast("string").alias("endpoint"),
        )
    endpoint = F.col("object") if direction == "ingoing" else F.col("subject")
    return pending.select(
        priority.alias("priority"),
        F.lit(direction).alias("direction"),
        F.col("predicate"),
        endpoint.alias("endpoint"),
    )


def merge_occurrences(cumulative: DataFrame | None, delta: DataFrame) -> DataFrame:
    """Re-aggregate cumulative + delta (map-side combine keeps this narrow).
    `delta` may hold several rows per path key (e.g. occurrence_keys rows
    with count 1): the one aggregation sums them all."""
    if cumulative is None:
        return delta
    return (
        cumulative.unionByName(delta)
        .groupBy("priority", "direction", "predicate", "endpoint")
        .agg(F.sum("count").alias("count"))
    )


def remove_chosen_path(occ: DataFrame, chosen: Row) -> DataFrame:
    """D5 — drop the chosen path row (framework.py:599-605, informed mode)."""
    same = (
        (F.col("priority") == chosen["priority"])
        & (F.col("predicate") == chosen["predicate"])
        & (F.col("direction").eqNullSafe(chosen["direction"]))
        & (F.col("endpoint").eqNullSafe(chosen["endpoint"]))
    )
    return occ.filter(~same)


def _tie_break():
    return [
        F.asc_nulls_first("direction"),
        F.asc("predicate"),
        F.asc_nulls_first("endpoint"),
    ]


OCC_COLUMNS = ("priority", "direction", "predicate", "endpoint", "count")


def rank_top1(
    occ: DataFrame,
    type_ranking: str = "entropy_pred_object_freq",
    low_threshold: int = 1,
    high_threshold: int = 200,
) -> Row | None:
    """Pick the next path to expand. Returns a Row(priority, direction,
    predicate, endpoint, count, score) or None when no candidates exist.

    One Spark action. The occurrence table is tiny (distinct path keys), so
    it is read as one partition; the per-priority entropy total and band
    fallback are windows partitioned by priority over that partition (no
    exchange), and sorting by priority first restricts the pick to the best
    priority class. Every step remains a DataFrame op, for arbitrary scale.
    """
    if occ is None:
        return None
    per_class = Window.partitionBy("priority")
    cand = (
        occ.select(*OCC_COLUMNS)
        .filter(F.col("priority").isNotNull())
        .coalesce(1)
    )
    if "entropy" in type_ranking:
        share = F.col("count") / F.sum("count").over(per_class)
        scored = cand.withColumn("score", -share * F.log(share))
        order = [F.desc("score")]
    elif "inverse" in type_ranking:
        scored = cand.withColumn("score", F.col("count").cast("double"))
        order = [F.asc("count")]
    else:
        # plain frequency: band filter with fallback to the unfiltered
        # class when its band is empty (ranker.py:43-51)
        in_band = (F.col("count") > low_threshold) & (F.col("count") < high_threshold)
        scored = (
            cand.withColumn("_in_band", in_band.cast("int"))
            .withColumn("_class_in_band", F.max("_in_band").over(per_class))
            .filter((F.col("_in_band") == 1) | (F.col("_class_in_band") == 0))
            .withColumn("score", F.col("count").cast("double"))
        )
        order = [F.desc("count")]
    return (
        scored.orderBy(F.asc("priority"), *order, *_tie_break())
        .select(*OCC_COLUMNS, "score")
        .limit(1)
        .first()
    )


def rank_movers(
    df_a: DataFrame,
    df_b: DataFrame,
    key_col: str,
) -> DataFrame:
    """Top movers between two periods: each key's dense popularity rank in
    snapshot A vs snapshot B and the signed delta — the leaderboard-diff
    readout (which entities/tools/sources surged or collapsed) that pairs
    with distribution_drift (drift says THAT the mix moved; this names the
    movers in rank space, which is robust to volume growth).

    Ranks are row_number over (count DESC, key ASC) — fully pinned, so
    ties replay identically cross-engine. Keys absent from a side carry
    NULL rank there and delta NULL (new/vanished keys are their own
    status, not a fake numeric move).

    Scale shape: one combinable count per side, each ranked by a window
    over its COLLAPSED |keys|-row table, one full-outer key join. The
    single-partition rank window is the er_threshold_curve collapsed-table
    exception (|keys| rows, never input rows).

    Returns (key, n_a, n_b, rank_a, rank_b, rank_delta, status) with
    status in {'moved','steady','new','vanished'}.
    """
    def ranked(d: DataFrame, side: str) -> DataFrame:
        c = d.groupBy(F.col(key_col).alias("key")).agg(
            F.count(F.lit(1)).alias(f"n_{side}")
        )
        w = Window.orderBy(F.col(f"n_{side}").desc(), F.col("key").asc())
        return c.withColumn(f"rank_{side}", F.row_number().over(w))

    j = ranked(df_a, "a").join(ranked(df_b, "b"), "key", "full_outer")
    delta = F.col("rank_a") - F.col("rank_b")
    status = (
        F.when(F.col("rank_a").isNull(), F.lit("new"))
        .when(F.col("rank_b").isNull(), F.lit("vanished"))
        .when(delta != 0, F.lit("moved"))
        .otherwise(F.lit("steady"))
    )
    return j.select(
        "key",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("rank_a").cast("long").alias("rank_a"),
        F.col("rank_b").cast("long").alias("rank_b"),
        delta.cast("long").alias("rank_delta"),
        status.alias("status"),
    )


def persistent_topk(
    df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    k: int = 20,
    min_days: int = 2,
) -> DataFrame:
    """Persistent heavy hitters: keys that land in the per-day top-k by
    event count on at least ``min_days`` distinct days — the trending-vs-
    persistent separation a feed/abuse pipeline needs: a one-day viral
    spike and a every-day power user both top a single day's chart, only
    persistence tells them apart (the 'persistent items' problem of the
    streaming literature, answered exactly here in batch).

    Deterministic rank: count desc, key asc. One (key, day) combinable
    count, one rank window partitioned BY DAY (each day's partition holds
    at most distinct-keys-that-day rows — bounded, never a global sort),
    one key-level rollup.

    Returns (key, days_in_topk, best_rank, total_in_topk) filtered to
    persistence >= min_days.
    """
    from pyspark.sql.window import Window

    daily = df.groupBy(
        F.col(key), F.to_date(F.col(ts_col)).alias("_day")
    ).agg(F.count(F.lit(1)).alias("_n"))
    w = Window.partitionBy("_day").orderBy(
        F.col("_n").desc(), F.col(key).asc()
    )
    ranked = daily.withColumn("_rk", F.row_number().over(w)).filter(
        F.col("_rk") <= k
    )
    return (
        ranked.groupBy(key)
        .agg(
            F.count(F.lit(1)).cast("long").alias("days_in_topk"),
            F.min("_rk").cast("long").alias("best_rank"),
            F.sum("_n").cast("long").alias("total_in_topk"),
        )
        .filter(F.col("days_in_topk") >= min_days)
    )
