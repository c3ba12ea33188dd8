"""daily_append: pipeline_append.daily_append over consecutive "days" of
turns split by turn_idx.

A cold bootstrap day (components and PageRank from scratch) runs once in
set-up; every measured job starts from a copy of that catalog and appends
the next day. This is the only workload that uses io through small MERGE
upserts and re-reads, and the only one that exercises
linking.canonicalize.incremental_components and warm-start
operators.graph_algos.pagerank. A day costs ~16 s on a 4-core machine
whether its delta is small or large: the job is bound by per-Spark-job
overhead, so one day is one measured job.
"""

from __future__ import annotations

import shutil
import time

from . import gen
from .harness import JobResult, median
from .tracing import force, patched

# (conversations, max turns per conversation, bootstrap turns, turns per day)
SCALES = {"full": (2000, 16, 8, 2), "tiny": (40, 8, 4, 2)}
PAGERANK = {"pr_iterations": 60, "pr_tol": 1e-3}  # the bootstrap runs to convergence


class DailyAppend:
    name = "daily_append"

    def __init__(self, env, seed: int, scale: str):
        self.env, self.spark, self.seed = env, env.spark, seed
        self.n_convs, self.n_turns, boot, day = SCALES[scale]
        self.days = gen.day_bounds(boot, day, 1)

    def materialize(self, rep: int) -> None:
        from chronographer_spark.schemas import TRANSCRIPT_SCHEMA

        pdf = gen.transcripts(self.seed, self.n_convs, self.n_turns)
        self.input = self.env.path(f"input{rep}", "transcripts")
        self.spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA).write.mode(
            "overwrite"
        ).parquet(self.input)
        self.convs = pdf.conv_id.nunique()

    def _append(self, cat, d: int):
        from pyspark.sql import functions as F

        from chronographer_spark.pipeline_append import daily_append

        lo, hi = self.days[d]
        tx = self.spark.read.parquet(self.input)
        batch = tx.filter((F.col("turn_idx") >= lo) & (F.col("turn_idx") < hi))
        bridge = tx.filter(F.col("turn_idx") == lo - 1)
        return daily_append(cat, batch, bridge, f"day{d}", **PAGERANK)

    def warm_up(self) -> None:
        from chronographer_spark.io.catalog import Catalog

        self.bootstrap = self.env.path("bootstrap")
        self._append(Catalog(self.spark, self.bootstrap), 0)

    def prepare_oracle(self) -> None:
        """The full-history graph over every turn the job has ingested."""
        from pyspark.sql import functions as F

        from chronographer_spark.graph.materialize import build_event_graph

        tx = self.spark.read.parquet(self.input)
        self.expected = self.env.path("expected")
        build_event_graph(tx.filter(F.col("turn_idx") < self.days[-1][1])).write.mode(
            "overwrite"
        ).parquet(self.expected)
        self.n_expected = self.spark.read.parquet(self.expected).count()

    def job(self, i: int, tracer) -> JobResult:
        from chronographer_spark.io.catalog import Catalog

        root = self.env.path(f"job{i}")
        shutil.copytree(self.bootstrap, root)
        cat = Catalog(self.spark, root)
        t0 = time.perf_counter()
        if tracer is None:
            summary = self._append(cat, 1)
        else:
            with _layer_spans(tracer), tracer.span("pipeline_append.daily_append") as s:
                summary = self._append(cat, 1)
            s.attrs.update(summary)
        wall = time.perf_counter() - t0
        return JobResult(wall, summary["n_delta_triples"], {"catalog": cat})

    def check(self, r: JobResult) -> tuple[float, list[str]]:
        """Bootstrap + day delta == the full build (as multisets), and one
        component per conversation."""
        from pyspark.sql import functions as F

        spo = ["subject", "predicate", "object"]
        cat = r.out["catalog"]
        got = cat.read("triples").groupBy(*spo).agg(F.count("*").alias("g"))
        exp = self.spark.read.parquet(self.expected).groupBy(*spo).agg(F.count("*").alias("e"))
        n_got, matched = got.join(exp, spo, "full_outer").agg(
            F.sum("g"), F.sum(F.when(F.col("g") == F.col("e"), F.col("e")))
        ).first()
        n_got, matched = n_got or 0, matched or 0
        problems = []
        if n_got != self.n_expected or matched != self.n_expected:
            problems.append(
                f"bootstrap + day deltas hold {n_got} triples, {matched} of the "
                f"full build's {self.n_expected}"
            )
        labels = cat.read("event_components").select(
            F.regexp_extract("node", r"^ng:event/([^/]+)/", 1).alias("conv"), "component"
        )
        per_conv, per_comp = (
            labels.groupBy(key).agg(F.countDistinct(other).alias("k"))
            .agg(F.max("k").alias("k"), F.count("*").alias("n")).first()
            for key, other in (("conv", "component"), ("component", "conv"))
        )
        if (per_conv.k, per_comp.k, per_conv.n, per_comp.n) != (1, 1, self.convs, self.convs):
            problems.append(
                f"{per_comp.n} components for {per_conv.n} of {self.convs} conversations"
            )
        return 2 * matched / (n_got + self.n_expected), problems

    def cleanup_job(self, i: int) -> None:
        shutil.rmtree(self.env.path(f"job{i}"), ignore_errors=True)

    def layer_metrics(self, tracer, traced) -> dict:
        rows = []
        for job, _ in traced:
            (day,) = tracer.named("pipeline_append.daily_append", job)
            (g,) = tracer.named("graph.build_event_graph", day)
            (e,) = tracer.named("extraction.extract_mentions", day)
            merges = tracer.named("io.merge_upsert", day)

            def total(name):
                return sum(s.duration for s in tracer.named(name, day))

            rows.append({
                "pipeline_append.daily_append_s": day.duration,
                "pipeline_append.jobs_per_day": tracer.inclusive(day)["jobs"],
                "extraction.extract_mentions_s": e.duration,
                "extraction.mentions_out": e.attrs["rows"],
                "extraction.mentions_per_turn": e.attrs["rows"] / e.attrs["turns"],
                "graph.build_event_graph_s": tracer.self_time(g),
                "graph.triples_out": g.attrs["rows"],
                "graph.delta_triples_out": day.attrs["n_delta_triples"],
                "linking.incremental_components_s": total("linking.incremental_components"),
                "linking.label_upserts": day.attrs["n_label_upserts"],
                "operators.pagerank_s": total("operators.pagerank"),
                "operators.pagerank_iters": day.attrs["pr_iterations_run"],
                "io.merge_upsert_s": total("io.merge_upsert"),
                "io.merge_upsert_calls": len(merges),
            })
        return {k: median(r[k] for r in rows) for k in rows[0]} if rows else {}


def _layer_spans(tracer):
    """Spans around the layer functions daily_append calls. Lazy results
    are forced inside their span: mentions and the event graph into the
    no-op sink (daily_append then builds them again), components and ranks
    into a local checkpoint that is handed back in their place."""
    from contextlib import ExitStack

    from chronographer_spark.extraction import mentions as extraction
    from chronographer_spark.graph import materialize
    from chronographer_spark.io.catalog import Catalog
    from chronographer_spark.linking import canonicalize
    from chronographer_spark.operators import graph_algos

    def mentions(fn):
        def extract_mentions(transcripts, *a, **kw):
            with tracer.span("extraction.extract_mentions") as s:
                df = fn(transcripts, *a, **kw)
                s.attrs["rows"] = force(df)
            s.attrs["turns"] = force(transcripts.select("conv_id", "turn_idx").distinct())
            return df
        return extract_mentions

    def build(fn):
        def build_event_graph(*a, **kw):
            with tracer.span("graph.build_event_graph") as s:
                df = fn(*a, **kw)
                s.attrs["rows"] = force(df)
            return df
        return build_event_graph

    def components(fn):
        def incremental_components(*a, **kw):
            with tracer.span("linking.incremental_components"):
                return fn(*a, **kw).localCheckpoint(eager=True)
        return incremental_components

    def ranks(fn):
        def pagerank(*a, **kw):
            with tracer.span("operators.pagerank"):
                out = fn(*a, **kw)
                if isinstance(out, tuple):
                    return (out[0].localCheckpoint(eager=True),) + out[1:]
                return out.localCheckpoint(eager=True)
        return pagerank

    def merge(fn):
        def merge_upsert(self, *a, **kw):
            with tracer.span("io.merge_upsert"):
                return fn(self, *a, **kw)
        return merge_upsert

    stack = ExitStack()
    stack.enter_context(patched(extraction, "extract_mentions", mentions))
    stack.enter_context(patched(materialize, "build_event_graph", build))
    stack.enter_context(patched(canonicalize, "incremental_components", components))
    stack.enter_context(patched(graph_algos, "pagerank", ranks))
    stack.enter_context(patched(Catalog, "merge_upsert", merge))
    return stack
