"""Turtle (TTL) export of a triples DataFrame.

The reference serializes its rdflib Graph to Turtle
(reference: src/build_ng/generic_kb_to_ng.py:293). Here the triples table is
the primary artifact; TTL is a final export formatter: a native expression
renders each triple to one Turtle line, and only the final write coalesces.

Literals vs URIs follow the engine's convention: objects starting with
"http" are resource URIs; ISO dates become ^^xsd:date typed literals
(generic_kb_to_ng.py:147 slices dates the same way); everything else is a
plain string literal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..vocab import PREFIXES

XSD_DATE = "http://www.w3.org/2001/XMLSchema#date"


def _swap_prefix(col, pairs):
    """One flat CASE WHEN over `pairs` (from_prefix, to_prefix): the first
    matching prefix is swapped, other values pass through. The input is
    referenced twice per pair plus once for the fallback, so the expression
    grows linearly with the pairs. (Chaining `when(out...).otherwise(out)`
    re-reads the previous CASE three times per pair: a 3^n-node tree.)

    Equal to applying the swaps one after another as long as no swapped
    value starts with a later pair's from_prefix — true here: expanded
    values start with a namespace and compacted ones with a CURIE prefix,
    and no CURIE prefix starts a namespace or the other way round."""
    out = None
    for old, new in pairs:
        hit = col.startswith(old)
        swapped = F.concat(F.lit(new), F.substring(col, len(old) + 1, 1 << 20))
        out = F.when(hit, swapped) if out is None else out.when(hit, swapped)
    return col if out is None else out.otherwise(col)


def expand_curie(col):
    """Expand engine CURIEs (ng: / sem: / rdf: / ent: ...) to full URIs."""
    return _swap_prefix(col, list(PREFIXES.items()))


PREFIX_HEADER = """@prefix sem: <http://semanticweb.cs.vu.nl/2009/11/sem/> .
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
@prefix ng: <http://chronographer-spark.local/ng/> .
@prefix ent: <http://chronographer-spark.local/ent/> .
"""


def _term(col, *, object_position: bool = False):
    expanded = expand_curie(col)
    uri = F.concat(F.lit("<"), expanded, F.lit(">"))
    if not object_position:
        return uri
    # a term is a resource if it carries a known CURIE prefix or is http-full
    is_uri = expanded.startswith("http")
    is_date = col.rlike(r"^\d{4}-\d{2}-\d{2}$")
    # Turtle string escaping: backslash FIRST (else it re-escapes the
    # escapes), then quote, then newline/CR (which would otherwise break the
    # one-statement-per-line format). read_ttl reverses all four.
    escaped = F.regexp_replace(col, r"\\", r"\\\\")
    escaped = F.regexp_replace(escaped, '"', r'\\"')
    escaped = F.regexp_replace(escaped, "\n", r"\\n")
    escaped = F.regexp_replace(escaped, "\r", r"\\r")
    quoted = F.concat(F.lit('"'), escaped, F.lit('"'))
    return (
        F.when(is_uri, uri)
        .when(is_date, F.concat(quoted, F.lit(f"^^<{XSD_DATE}>")))
        .otherwise(quoted)
    )


def to_ttl_lines(triples: DataFrame) -> DataFrame:
    """One formatted Turtle statement per row (stays distributed)."""
    return triples.select(
        F.concat_ws(
            " ",
            _term(F.col("subject")),
            _term(F.col("predicate")),
            _term(F.col("object"), object_position=True),
            F.lit("."),
        ).alias("line")
    )


def write_ttl(triples: DataFrame, path: str) -> None:
    """Final export: deterministic order, single file + prefix header."""
    lines = to_ttl_lines(triples).orderBy("line")
    header = triples.sparkSession.createDataFrame(
        [(PREFIX_HEADER,)], ["line"]
    )
    header.unionByName(lines).coalesce(1).write.mode("overwrite").text(path)


def compact_curie(col):
    """Inverse of :func:`expand_curie`: full URIs back to engine CURIEs."""
    return _swap_prefix(col, [(full, short) for short, full in PREFIXES.items()])


TTL_LINE_RE = (
    r'^<([^>]+)> <([^>]+)> (?:<([^>]+)>|"((?:[^"\\]|\\.)*)"(?:\^\^<[^>]+>)?) \.$'
)


def read_ttl(spark, path: str) -> DataFrame:
    """Parse a TTL export written by :func:`write_ttl` back into a triples
    DataFrame (CURIE-compacted — round-trips bit-exactly with the source
    table). Line-oriented regexp parse, fully distributed; prefix headers
    and blank lines are skipped. Not a general Turtle parser: it reads the
    engine's own single-statement-per-line export format only."""
    lines = spark.read.text(path)
    parsed = lines.select(
        F.regexp_extract("value", TTL_LINE_RE, 1).alias("s"),
        F.regexp_extract("value", TTL_LINE_RE, 2).alias("p"),
        F.regexp_extract("value", TTL_LINE_RE, 3).alias("o_uri"),
        F.regexp_extract("value", TTL_LINE_RE, 4).alias("o_lit"),
    ).filter(F.col("s") != "")
    # reverse write_ttl's escaping; double-backslash goes through a sentinel
    # so `\\n` (escaped backslash + n) is not mistaken for a newline escape
    lit = F.regexp_replace(F.col("o_lit"), r"\\\\", "\x00")
    lit = F.regexp_replace(lit, r'\\"', '"')
    lit = F.regexp_replace(lit, r"\\n", "\n")
    lit = F.regexp_replace(lit, r"\\r", "\r")
    lit = F.regexp_replace(lit, "\x00", r"\\")
    return parsed.select(
        compact_curie(F.col("s")).alias("subject"),
        compact_curie(F.col("p")).alias("predicate"),
        F.when(F.col("o_uri") != "", compact_curie(F.col("o_uri")))
        .otherwise(lit)
        .alias("object"),
    )
