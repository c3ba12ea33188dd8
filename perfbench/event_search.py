"""search: stage-1 search.driver.GraphSearch over a generated generic KG
(see gen.search_kg).

Nearly no data: the time is per-iteration driver and stage latency —
frontier expansion, filtering, ranking, then the checkpoint write and
reload of the search state. Extraction and bulk writes are absent.

One iteration costs ~100 Spark jobs (~11 s on a 4-core machine, ~25 s for
the first, cold one) whatever the KG size, so a job is one iteration:
set-up runs iteration 1 (which also loads and caches the KG) and, as
warm-up and reference, iteration 2 resumed from that checkpoint once;
every measured job resumes GraphSearch.run() from the same checkpoint for
iteration 2. Each job's found events must equal the generator's
found_after_two, and its chosen path the reference's.
"""

from __future__ import annotations

import json
import shutil
import time

from . import gen
from .harness import JobResult, median

# background events; the found_after_two oracle fixes one set-up iteration
SCALES = {"full": 8000, "tiny": 300}
WARM_ITERATIONS = 1


def _search_class():
    from chronographer_spark.search.driver import GraphSearch

    class TracedSearch(GraphSearch):
        """GraphSearch that records the chosen paths; with a tracer, each
        iteration is a span whose child is run_one_iteration (the rest of
        the iteration is the checkpoint write and reload)."""

        def __init__(self, *a, tracer=None, **kw):
            super().__init__(*a, **kw)
            self.tracer = tracer
            self.chosen: list = []
            self._iter_span = None

        def run_one_iteration(self, iteration, state):
            if self.tracer is None:
                new_state, meta = super().run_one_iteration(iteration, state)
            else:
                if self._iter_span is not None:
                    self.tracer.end(self._iter_span)
                self._iter_span = self.tracer.begin("search.iteration", iteration=iteration)
                with self.tracer.span("search.run_one_iteration") as s:
                    new_state, meta = super().run_one_iteration(iteration, state)
                s.attrs["nodes_expanded"] = meta.get("nodes_expanded", 0)
            self.chosen.append(meta.get("chosen_path"))
            return new_state, meta

        def run(self, resume: bool = False) -> dict:
            try:
                return super().run(resume)
            finally:
                if self._iter_span is not None:
                    self.tracer.end(self._iter_span)
                    self._iter_span = None

    return TracedSearch


class Search:
    name = "search"

    def __init__(self, env, seed: int, scale: str):
        self.env, self.spark, self.seed = env, env.spark, seed
        self.n_background = SCALES[scale]
        self.cls = _search_class()

    def materialize(self, rep: int) -> None:
        kg = gen.search_kg(self.seed, self.n_background)
        path = self.env.path(f"input{rep}", "kg")
        self.spark.createDataFrame(
            kg.triples, "subject string, predicate string, object string"
        ).write.mode("overwrite").parquet(path)
        schema = "predicate string, classes array<string>"
        self.pred_domain = self.spark.createDataFrame(kg.pred_domain, schema)
        self.pred_range = self.spark.createDataFrame(kg.pred_range, schema)
        self.superclasses = self.spark.createDataFrame(
            kg.superclasses, "class string, ancestors array<string>"
        )
        self.kg = kg
        self.path = path

    def warm_up(self) -> None:
        """Iteration 1 (loads and caches the KG; its checkpoint is what every
        job resumes from), then one job's iteration as the reference."""
        self.triples = self.spark.read.parquet(self.path)
        self.warm_ckpt = self.env.path("warmup")
        gs = self._search(self.warm_ckpt, WARM_ITERATIONS, None)
        gs.run()
        self.warm_chosen = gs.chosen
        self.ref_chosen = self.job("reference", None).out["chosen"]
        self.cleanup_job("reference")

    def prepare_oracle(self) -> None:
        self.gold = set(self.kg.gold)
        self.expected = set(self.kg.found_after_two)

    def _search(self, ckpt: str, iterations: int, tracer):
        from chronographer_spark.operators.filtering import FilteringConfig
        from chronographer_spark.search.driver import SearchConfig

        cfg = SearchConfig(
            start=self.kg.seed_event,
            iterations=iterations,
            target_types=[gen.EVENT],
            type_ranking="entropy_pred_object_freq",
            dates=gen.WINDOW,
            max_uri=1000,
        )
        filt = FilteringConfig(
            point_in_time=[gen.DATE],
            start_dates=[gen.START_DATE, gen.BIRTH_DATE],
            end_dates=[gen.END_DATE],
            places=[gen.PLACE],
            people=[gen.PERSON],
            dataset_type="generic",
        )
        return self.cls(
            self.spark, self.triples, cfg, filt,
            pred_domain=self.pred_domain, pred_range=self.pred_range,
            superclasses=self.superclasses, checkpoint_dir=ckpt, run_id="bench",
            tracer=tracer,
        )

    def job(self, i, tracer) -> JobResult:
        ckpt = self.env.path(f"job{i}")
        shutil.copytree(self.warm_ckpt, ckpt)
        t0 = time.perf_counter()
        gs = self._search(ckpt, WARM_ITERATIONS + 1, tracer)
        if tracer is None:
            gs.run(resume=True)
        else:
            from chronographer_spark.search import driver

            from .tracing import patched

            def wrap(fn):
                def rank_top1(*a, **kw):
                    with tracer.span("operators.rank_top1"):
                        return fn(*a, **kw)
                return rank_top1

            with patched(driver, "rank_top1", wrap), tracer.span("search.run"):
                gs.run(resume=True)
        wall = time.perf_counter() - t0
        final = gs.final_state()
        found = {r.event for r in gs.found_events(final).collect()}
        # triples this job's iteration added to the found subgraph
        n_sub = final["subgraph"].filter(f"iteration = {WARM_ITERATIONS + 1}").count()
        chosen = [json.dumps(c, sort_keys=True) for c in gs.chosen]
        return JobResult(wall, n_sub, {"found": found, "chosen": chosen})

    def check(self, r: JobResult) -> tuple[float, list[str]]:
        found, exp = r.out["found"], self.expected
        problems = []
        if found != exp:
            problems.append(
                f"found events differ from the generator's: "
                f"{len(found - exp)} extra, {len(exp - found)} missing"
            )
        if r.out["chosen"] != self.ref_chosen:
            problems.append("chosen path differs from the set-up's reference iteration")
        # iteration 1 can only choose the seed's incoming sub-event path
        first = self.warm_chosen[0]
        if (first["direction"], first["predicate"], first["endpoint"]) != (
            "ingoing", gen.PART_OF, self.kg.seed_event
        ):
            problems.append(f"iteration 1 chose {first}")
        tp = len(found & self.gold)
        f1 = 2 * tp / (len(found) + len(self.gold))
        return f1, problems

    def cleanup_job(self, i) -> None:
        shutil.rmtree(self.env.path(f"job{i}"), ignore_errors=True)

    def layer_metrics(self, tracer, traced) -> dict:
        per_iter = []
        rank = []
        for job, _ in traced:
            for it in tracer.named("search.iteration", job):
                (roi,) = tracer.named("search.run_one_iteration", it)
                if roi.attrs["nodes_expanded"] == 0:
                    continue
                per_iter.append({
                    "search.run_one_iteration_s": roi.duration,
                    "search.checkpoint_s": it.duration - roi.duration,
                    "search.jobs_per_iter": tracer.inclusive(it)["jobs"],
                    "search.nodes_expanded": roi.attrs["nodes_expanded"],
                })
            rank += [s.duration for s in tracer.named("operators.rank_top1", job)]
        if not per_iter:
            return {}
        out = {k: median(r[k] for r in per_iter) for k in per_iter[0]}
        out["operators.rank_top1_s"] = median(rank)
        return out
