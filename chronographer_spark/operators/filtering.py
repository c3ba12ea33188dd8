"""Narrative-dimension filters (set-oriented).

Re-expression of the reference Filtering class (reference:
src/filtering.py:15-138) as DataFrame predicates returning *discard tables*
(one column `node`) instead of driver-side python lists. Discard tables are
then applied with left-anti joins — the distributed analog of
`~df.subject.isin(to_discard)`.

All date comparisons are lexical on ISO-8601 strings, exactly as the
reference compares them (filtering.py:56-63) — identical semantics, and it
keeps the whole filter inside whole-stage codegen.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class FilteringConfig:
    """Mirror of the reference's args dict (filtering.py:20-43)."""

    where: bool = True
    when: bool = True
    who: bool = True
    point_in_time: list[str] = field(default_factory=list)
    start_dates: list[str] = field(default_factory=list)
    end_dates: list[str] = field(default_factory=list)
    places: list[str] = field(default_factory=list)
    people: list[str] = field(default_factory=list)
    dataset_type: str = "generic"

    @property
    def temporal(self) -> list[str]:
        return self.point_in_time + self.start_dates + self.end_dates


def discard_by_date(
    type_date: DataFrame, cfg: FilteringConfig, dates: tuple[str, str]
) -> DataFrame:
    """F5 — temporal range discard (filtering.py:52-63).

    A node is discarded iff: its end-date < window.start, or its start-date
    > window.end, or a point-in-time falls outside the window.
    """
    return _date_nodes(type_date, cfg, dates).dropDuplicates()


def _date_nodes(
    type_date: DataFrame, cfg: FilteringConfig, dates: tuple[str, str]
) -> DataFrame:
    lo, hi = dates
    date_df = type_date.filter(F.col("predicate").isin(cfg.temporal))
    cond = (
        (F.col("predicate").isin(cfg.end_dates) & (F.col("object") < lo))
        | (F.col("predicate").isin(cfg.start_dates) & (F.col("object") > hi))
        | (F.col("predicate").isin(cfg.point_in_time) & (F.col("object") < lo))
        | (F.col("predicate").isin(cfg.point_in_time) & (F.col("object") > hi))
    )
    return date_df.filter(cond).select(F.col("subject").alias("node"))


def discard_by_regex(
    ingoing: DataFrame, outgoing: DataFrame, dates: tuple[str, str]
) -> DataFrame:
    """F6 — URI-year regex discard (filtering.py:65-97).

    Extract the first \\d{4} from the node URI (ingoing.subject /
    outgoing.object); default to the window-start year when absent; discard
    if outside [start_year, end_year] (lexical compare on 4-digit strings).
    """
    return _regex_nodes(ingoing, outgoing, dates).dropDuplicates()


def _regex_nodes(
    ingoing: DataFrame, outgoing: DataFrame, dates: tuple[str, str]
) -> DataFrame:
    lo_y, hi_y = dates[0][:4], dates[1][:4]

    def side(df: DataFrame, col: str) -> DataFrame:
        year = F.coalesce(
            F.nullif(F.regexp_extract(F.col(col), r"(\d{4})", 1), F.lit("")),
            F.lit(lo_y),
        )
        return (
            df.withColumn("__y", year)
            .filter((F.col("__y") < lo_y) | (F.col("__y") > hi_y))
            .select(F.col(col).alias("node"))
        )

    return side(ingoing, "subject").unionByName(side(outgoing, "object"))


def discard_by_entity_type(type_date: DataFrame, type_uris: list[str]) -> DataFrame:
    """F7 — entity-type discard (filtering.py:99-110): nodes typed with any
    of `type_uris` (places for WHERE, people for WHO)."""
    return _typed_nodes(type_date, type_uris).dropDuplicates()


def _typed_nodes(type_date: DataFrame, type_uris: list[str]) -> DataFrame:
    return type_date.filter(F.col("object").isin(type_uris)).select(
        F.col("subject").alias("node")
    )


def compute_discards(
    ingoing: DataFrame,
    outgoing: DataFrame,
    type_date: DataFrame,
    cfg: FilteringConfig,
    dates: tuple[str, str] | None,
) -> DataFrame:
    """Full Filtering.__call__ (filtering.py:112-138): union of active filters.

    A node may be listed more than once: the table is only ever anti-joined
    against, and deduplicating it would cost a shuffle."""
    spark = type_date.sparkSession
    parts: list[DataFrame] = []
    if cfg.where and cfg.places:
        parts.append(_typed_nodes(type_date, cfg.places))
    if cfg.who and cfg.people:
        parts.append(_typed_nodes(type_date, cfg.people))
    if dates:
        if cfg.when and cfg.temporal:
            parts.append(_date_nodes(type_date, cfg, dates))
        if cfg.when and cfg.dataset_type in ("dbpedia", "generic"):
            parts.append(_regex_nodes(ingoing, outgoing, dates))
    if not parts:
        return spark.createDataFrame([], "node string")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
