"""Semantically-informed candidate-event search — the iterative driver.

Re-expression of the reference GraphSearchFramework loop (reference:
src/framework.py:704-857) as a driver `for` loop over DataFrame
transformations: per iteration, ONE set-oriented expansion (three hash
joins) replaces the reference's node-at-a-time HDT lookups
(framework.py:546-556); occurrence counting and ranking are aggregations
(framework.py:571-597, src/ranker.py); pending-vs-visited pruning is a
left-anti join (framework.py:630-633).

Checkpointing & lineage (the reference writes per-iteration CSVs,
framework.py:740-766): every iteration writes its state tables as parquet
under {checkpoint_dir}/{run_id}/iter=N/ with a _meta.json commit marker
carrying lineage + metrics (rows per table, wall ms, chosen path). Reading
state back from parquet each iteration both truncates lineage (the
iterative-loop blowup in SURVEY.md §7.4) and makes the loop resumable:
`GraphSearch.resume()` restarts from the last complete iteration and
reproduces byte-identical state, because every tie-break and sample is
deterministic (operators/sampling.py, operators/ranking.py). The reload
uses the fixed state schemas, so it costs no schema-inference job.

Job economy: an iteration is bound by per-job engine latency (AQE runs
every shuffle and broadcast as its own job), not by data, so each
intermediate is computed exactly once. The frontier is collected (it is
capped at `max_uri` nodes). Two eager local checkpoints follow: the
expansion (ingoing, outgoing, type/date rows), then every delta of the
iteration (subgraph rows, new pending rows, the merged occurrence
table), each stacked into one tagged frame so shared subplans run once.
Ranking is one action over the occurrence part, and each of the five
checkpoint writes is one job over the checkpointed parts. Row counts ride
along as `Observation`s on actions that run anyway: the checkpoint's
`rows` come from the writes themselves and the visited budget from the
previous `rows`, never from a second count. An iteration's checkpointed
blocks are released once its state is written and reloaded, so a long run
holds no more cache than a short one (~21 jobs per iteration, down from
~100 when each consumer re-ran the lazy lineage).
"""

from __future__ import annotations

import json
import os
import re
import time
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F

from ..operators.expansion import expand_frontier, split_subgraph_pending
from ..operators.filtering import FilteringConfig, compute_discards
from ..operators.ordering import annotate_superclass, build_pred_closure
from ..operators.ranking import (
    merge_occurrences,
    occurrence_keys,
    rank_top1,
    remove_chosen_path,
)
from ..operators.sampling import deterministic_sample

RDF_TYPE_PRED = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

STATE_TABLES = ("subgraph", "pending_in", "pending_out", "occurrences", "visited")

OCC_SCHEMA = (
    "priority int, direction string, predicate string, endpoint string, count long"
)
TRIPLE_ITER_SCHEMA = "subject string, predicate string, object string, iteration int"
PENDING_SCHEMA = (
    "subject string, predicate string, object string, superclass array<string>"
)
# column layout of each checkpointed table (lineage columns excluded)
STATE_SCHEMAS = {
    "subgraph": TRIPLE_ITER_SCHEMA,
    "pending_in": PENDING_SCHEMA,
    "pending_out": PENDING_SCHEMA,
    "occurrences": OCC_SCHEMA,
    "visited": "node string",
}


# up to this many expansion rows, the node sets derived from the expansion
# are broadcast (~10 MB of URIs, Spark's own broadcast threshold); above it
# the planner chooses
BROADCAST_MAX_ROWS = 100_000


def _not_in(col: str, nodes: list[str]) -> Column:
    """`col` not among `nodes`, with a left-anti join's null semantics (a
    NULL key is kept)."""
    return ~F.coalesce(F.col(col).isin(nodes), F.lit(False))


def _stack(parts: dict[str, DataFrame]) -> DataFrame:
    """One frame holding every part, tagged with its name in `part`, so a
    single action computes them all (shared subplans run once)."""
    out = None
    for name, df in parts.items():
        df = df.withColumn("part", F.lit(name))
        out = df if out is None else out.unionByName(df, allowMissingColumns=True)
    return out


def _unstack(stacked: DataFrame, parts: dict[str, DataFrame]) -> list[DataFrame]:
    """The parts of a `_stack`ed frame, each with its original columns."""
    return [
        stacked.filter(F.col("part") == name).select(*df.columns)
        for name, df in parts.items()
    ]


@dataclass
class SearchConfig:
    """Mirror of the reference's search config JSON (framework.py:272-385)."""

    start: str
    iterations: int = 10
    target_types: list[str] = field(default_factory=list)
    predicate_filter: list[str] = field(default_factory=list)
    type_ranking: str = "entropy_pred_object_freq"
    dates: tuple[str, str] | None = None
    max_uri: int = 1000
    low_threshold: int = 1
    high_threshold: int = 200
    rdf_type_pred: str = RDF_TYPE_PRED
    walk: str = "informed"  # or "random" (framework.py:469-514)
    uri_limit: int | None = None  # per-iteration cap in random mode

    RANKINGS = (
        "pred_freq",
        "inverse_pred_freq",
        "entropy_pred_freq",
        "pred_object_freq",
        "inverse_pred_object_freq",
        "entropy_pred_object_freq",
    )

    @property
    def mode(self) -> str:
        """Occurrence keying implied by `type_ranking`: 'pred' for the
        *_pred_freq rankings, 'pred_object' otherwise."""
        if self.type_ranking in ("pred_freq", "inverse_pred_freq", "entropy_pred_freq"):
            return "pred"
        return "pred_object"

    def validate(self) -> None:
        """Shape/type validation mirroring the reference's `_check_config`
        (framework.py:272-385, messages doc/check_config_framework.py:6):
        same constraints, fail-fast with an actionable message."""
        if not isinstance(self.start, str) or not self.start:
            raise ValueError(
                "`start` must be a non-empty string URI of the seed node"
            )
        if not isinstance(self.iterations, int) or self.iterations < 1:
            raise ValueError("`iterations` must be an int >= 1")
        if self.type_ranking not in self.RANKINGS:
            raise ValueError(
                f"`type_ranking` must be one of {', '.join(self.RANKINGS)}"
            )
        if self.dates is not None:
            start_d, end_d = self.dates
            iso = r"^\d{4}-\d{2}-\d{2}$"
            if not (re.match(iso, start_d) and re.match(iso, end_d)):
                raise ValueError("`dates` must be ISO yyyy-mm-dd strings")
            if start_d > end_d:
                raise ValueError("`dates` start must be <= end")
        if not isinstance(self.max_uri, int) or self.max_uri < 1:
            raise ValueError("`max_uri` must be an int >= 1")
        if self.uri_limit is not None and (
            not isinstance(self.uri_limit, int) or self.uri_limit < 1
        ):
            raise ValueError("`uri_limit` must be an int >= 1 or None")
        if self.walk not in ("informed", "random"):
            raise ValueError("`walk` must be 'informed' or 'random'")
        if not (0 <= self.low_threshold < self.high_threshold):
            raise ValueError(
                "`low_threshold` must be >= 0 and < `high_threshold`"
            )


class GraphSearch:
    def __init__(
        self,
        spark: SparkSession,
        triples: DataFrame,
        config: SearchConfig,
        filtering: FilteringConfig,
        pred_domain: DataFrame | None = None,
        pred_range: DataFrame | None = None,
        superclasses: DataFrame | None = None,
        checkpoint_dir: str = "/tmp/chronographer_ckpt",
        run_id: str = "run-0",
        gold_events: DataFrame | None = None,
        profile=None,
    ):
        self.spark = spark
        config.validate()
        self.cfg = config
        self.filt = filtering
        self.triples = triples.select("subject", "predicate", "object").cache()
        self.superclasses = superclasses
        self.ckpt = os.path.join(checkpoint_dir, run_id)
        self.run_id = run_id
        self.gold = gold_events
        # Optional multi-KB DatasetProfile (profiles.py): supplies the C6
        # constraint-prefix rewrite for the superclass lookup
        # (reference ordering.py:43-46,152).
        self.pred_rewrite = (
            profile.constraint_pred_rewrite if profile is not None else None
        )
        self.default_preds = [config.rdf_type_pred] + filtering.temporal

        empty_arr = spark.createDataFrame(
            [], "class string, ancestors array<string>"
        )
        sup = superclasses if superclasses is not None else empty_arr
        empty_pc = spark.createDataFrame(
            [], "predicate string, classes array<string>"
        )
        self.closure_in = build_pred_closure(
            pred_domain if pred_domain is not None else empty_pc, sup
        ).cache()
        self.closure_out = build_pred_closure(
            pred_range if pred_range is not None else empty_pc, sup
        ).cache()

        self.metrics: list[dict] = []
        self.to_expand: Row | None = None
        # tables materialized by the current iteration, released by run()
        self._held: list[DataFrame] = []
        # |visited| of the state run() hands to the next iteration (known
        # from the checkpoint's row counts); consumed by _select_nodes
        self._visited_rows: int | None = None

    # -- materialization -------------------------------------------------------

    def _materialize(self, df: DataFrame, **counts: Column) -> tuple[DataFrame, dict]:
        """Compute `df` once — one action, lineage truncated — and return it
        with the aggregates `counts` (plus `rows`) observed on the way. The
        blocks are held until run() releases the iteration."""
        obs = Observation()
        exprs = [F.count(F.lit(1)).alias("rows")]
        exprs += [c.alias(k) for k, c in counts.items()]
        # one wave of tasks: every consumer scans it, and a union of parts
        # would otherwise multiply its partitions
        df = (
            df.coalesce(self.spark.sparkContext.defaultParallelism)
            .observe(obs, *exprs)
            .localCheckpoint(eager=True)
        )
        self._held.append(df)
        return df, obs.get

    def _release(self) -> None:
        """Drop the blocks of the tables the iteration materialized."""
        for df in self._held:
            # a checkpointed frame is a scan of its (persisted) RDD
            df._jdf.queryExecution().logical().rdd().unpersist(False)
        self._held = []

    # -- state persistence ---------------------------------------------------

    def _iter_dir(self, iteration: int) -> str:
        return os.path.join(self.ckpt, f"iter={iteration:05d}")

    def _write_state(self, iteration: int, state: dict, meta: dict) -> dict:
        d = self._iter_dir(iteration)
        rows = {}
        for name in STATE_TABLES:
            # lineage columns prefixed to avoid colliding with data columns
            # (subgraph carries its own `iteration` tag per triple); one
            # wave of write tasks, so the file count does not grow with
            # every iteration's union of old and new rows
            df = state[name].coalesce(self.spark.sparkContext.defaultParallelism).withColumn("lineage_run_id", F.lit(self.run_id)).withColumn(
                "lineage_iteration", F.lit(iteration)
            )
            # the row count is observed by the write itself
            obs = Observation()
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
                "overwrite"
            ).parquet(os.path.join(d, name))
            rows[name] = obs.get["rows"]
        meta = {**meta, "rows": rows, "run_id": self.run_id, "iteration": iteration}
        # meta written last = commit marker (resume only sees complete iters)
        with open(os.path.join(d, "_meta.json"), "w", encoding="utf-8") as fh:
            json.dump(meta, fh)
        return meta

    def _read_state(self, iteration: int) -> dict:
        # the fixed schema selects the data columns (not the lineage ones)
        # and spares a schema-inference job per table
        d = self._iter_dir(iteration)
        return {
            name: self.spark.read.schema(STATE_SCHEMAS[name]).parquet(
                os.path.join(d, name)
            )
            for name in STATE_TABLES
        }

    def last_complete_iteration(self) -> int:
        if not os.path.isdir(self.ckpt):
            return 0
        its = []
        for entry in os.listdir(self.ckpt):
            if entry.startswith("iter=") and os.path.exists(
                os.path.join(self.ckpt, entry, "_meta.json")
            ):
                its.append(int(entry.split("=")[1]))
        return max(its, default=0)

    def _empty_state(self) -> dict:
        return {
            name: self.spark.createDataFrame([], STATE_SCHEMAS[name])
            for name in STATE_TABLES
        }

    # -- node selection (D2, framework.py:424-488) ----------------------------

    def _visited_count(self, visited: DataFrame) -> int:
        n, self._visited_rows = self._visited_rows, None
        return n if n is not None else visited.count()

    def _select_nodes(self, iteration: int, state: dict) -> list[str]:
        """The frontier, collected: it is capped at max_uri - |visited|
        nodes (framework.py:460-463), and a driver-side list is both its
        size and a job-free input to the expansion.

        Candidates come from the pending tables, which never point at a
        visited node and are distinct on (s, p, o) (see
        run_one_iteration), so they need no anti-join with `visited`, and
        a path with an endpoint yields distinct nodes by itself."""
        if iteration == 1:
            return [self.cfg.start]
        pin, pout = state["pending_in"], state["pending_out"]
        if self.cfg.walk == "random":
            # candidates = all pending endpoints; deterministic xxhash64
            # sample replaces random.seed(23) (framework.py:476-482)
            nodes = (
                pin.select(F.col("subject").alias("node"))
                .unionByName(pout.select(F.col("object").alias("node")))
                .dropDuplicates()
            )
            budget = self.cfg.max_uri - self._visited_count(state["visited"])
            if self.cfg.uri_limit:
                budget = min(budget, self.cfg.uri_limit)
        else:
            path = self.to_expand
            if path is None:
                return []
            if path["endpoint"] is not None and path["direction"] == "ingoing":
                nodes = pin.filter(
                    (F.col("predicate") == path["predicate"])
                    & (F.col("object") == path["endpoint"])
                ).select(F.col("subject").alias("node"))
            elif path["endpoint"] is not None and path["direction"] == "outgoing":
                nodes = pout.filter(
                    (F.col("predicate") == path["predicate"])
                    & (F.col("subject") == path["endpoint"])
                ).select(F.col("object").alias("node"))
            else:  # predicate-only path
                nodes = pin.filter(F.col("predicate") == path["predicate"]).select(
                    F.col("subject").alias("node")
                ).unionByName(
                    pout.filter(F.col("predicate") == path["predicate"]).select(
                        F.col("object").alias("node")
                    )
                ).dropDuplicates()
            # cap at max_uri - |visited| (framework.py:460-463), deterministic
            budget = self.cfg.max_uri - self._visited_count(state["visited"])
        if budget <= 0:
            return []
        return [r.node for r in deterministic_sample(nodes, budget).collect()]

    # -- one iteration (D1/D3/D4) ---------------------------------------------

    def run_one_iteration(self, iteration: int, state: dict) -> tuple[dict, dict]:
        """One expansion step; returns the next state (lazy frames over
        this iteration's materialized tables) and the iteration's meta.

        State invariants, kept by every iteration and relied on by
        _select_nodes and the pending update: the pending tables never
        point at a visited node (pending_in.subject, pending_out.object),
        and are distinct on (s, p, o). Old pending rows point at earlier
        frontiers, new ones at this frontier, so the two never overlap."""
        t0 = time.monotonic()
        nodes = self._select_nodes(iteration, state)
        if not nodes:
            return state, {"stop": "empty_frontier", "nodes_expanded": 0}

        # expansion (J1-J3), one action
        parts = dict(
            zip(
                ("ingoing", "outgoing", "type_date"),
                expand_frontier(
                    self.triples,
                    nodes,
                    predicate_filter=self.cfg.predicate_filter,
                    default_preds=self.default_preds,
                ),
            )
        )
        expansion, seen = self._materialize(
            _stack(parts),
            type_date=F.count(F.when(F.col("part") == "type_date", 1)),
        )
        ingoing, outgoing, type_date = _unstack(expansion, parts)

        # filtering (F5-F7) and subgraph/pending split (F9/F10); the node
        # sets are bounded by the expansion, whose size is now known (the
        # checkpoint itself carries no size estimate)
        to_discard = compute_discards(
            ingoing, outgoing, type_date, self.filt, self.cfg.dates
        )
        sub_in, pend_in, sub_out, pend_out = split_subgraph_pending(
            ingoing,
            outgoing,
            type_date,
            to_discard,
            self.cfg.target_types,
            self.superclasses,
            type_date_empty=seen["type_date"] == 0,
            broadcast=seen["rows"] <= BROADCAST_MAX_ROWS,
        )
        # superclass annotation on the pending deltas (J4)
        pend_in = annotate_superclass(
            pend_in, self.closure_in, pred_rewrite=self.pred_rewrite
        )
        pend_out = annotate_superclass(
            pend_out, self.closure_out, pred_rewrite=self.pred_rewrite
        )

        # occurrence update (A1): both directions' path keys in one
        # aggregation with the cumulative table
        keys = occurrence_keys(
            pend_in, "ingoing", self.cfg.target_types, self.cfg.mode
        ).unionByName(
            occurrence_keys(pend_out, "outgoing", self.cfg.target_types, self.cfg.mode)
        )
        occ = merge_occurrences(
            state["occurrences"], keys.withColumn("count", F.lit(1).cast("long"))
        )

        # pending rows new to the state: not visited (before or now), one
        # per (s, p, o); deduplicated together, in one shuffle
        visited = state["visited"]
        fresh = _stack(
            {
                "pending_in": pend_in.filter(_not_in("subject", nodes)).join(
                    visited, pend_in["subject"] == visited["node"], "left_anti"
                ),
                "pending_out": pend_out.filter(_not_in("object", nodes)).join(
                    visited, pend_out["object"] == visited["node"], "left_anti"
                ),
            }
        ).dropDuplicates(["part", "subject", "predicate", "object"])

        # every delta of the iteration, one action
        parts = {
            "sub_in": sub_in,
            "sub_out": sub_out,
            "pending_in": pend_in,
            "pending_out": pend_out,
            "occurrences": occ,
        }
        delta, _ = self._materialize(
            _stack({k: parts[k] for k in ("sub_in", "sub_out", "occurrences")})
            .unionByName(fresh, allowMissingColumns=True)
        )
        sub_in, sub_out, pend_in, pend_out, occ = _unstack(delta, parts)

        # rank next path (A2/A3) and drop it from the occurrence table (D5);
        # random walk keeps occurrences for audit but never ranks
        if self.cfg.walk == "informed":
            chosen = rank_top1(
                occ, self.cfg.type_ranking, self.cfg.low_threshold, self.cfg.high_threshold
            )
            self.to_expand = chosen
            if chosen is not None:
                occ = remove_chosen_path(occ, chosen)
        else:
            chosen = None

        # accumulate state (the frontier is distinct and unvisited)
        frontier = self.spark.createDataFrame([(n,) for n in nodes], "node string")
        new_state = {
            "subgraph": state["subgraph"]
            .unionByName(sub_in.withColumn("iteration", F.lit(iteration)))
            .unionByName(sub_out.withColumn("iteration", F.lit(iteration))),
            "pending_in": state["pending_in"]
            .filter(_not_in("subject", nodes))
            .unionByName(pend_in),
            "pending_out": state["pending_out"]
            .filter(_not_in("object", nodes))
            .unionByName(pend_out),
            "occurrences": occ,
            "visited": visited.unionByName(frontier),
        }
        meta = {
            "nodes_expanded": len(nodes),
            "chosen_path": dict(chosen.asDict()) if chosen is not None else None,
            "wall_ms": int((time.monotonic() - t0) * 1000),
        }
        return new_state, meta

    # -- found events + metrics (A4/A6) ---------------------------------------

    def found_events(self, state: dict) -> DataFrame:
        sub = state["subgraph"]
        return (
            sub.select(F.col("subject").alias("event"))
            .unionByName(sub.select(F.col("object").alias("event")))
            .dropDuplicates()
        )

    def _metrics(self, state: dict) -> dict | None:
        if self.gold is None:
            return None
        # tp/fp/fn in one aggregation over found FULL OUTER gold
        found = self.found_events(state).withColumn("_found", F.lit(True))
        gold = (
            self.gold.select(F.col("event")).dropDuplicates()
            .withColumn("_gold", F.lit(True))
        )
        row = (
            found.join(gold, "event", "full_outer")
            .agg(
                F.count(F.when(F.col("_found") & F.col("_gold"), 1)).alias("tp"),
                F.count(F.when(F.col("_gold").isNull(), 1)).alias("fp"),
                F.count(F.when(F.col("_found").isNull(), 1)).alias("fn"),
            )
            .first()
        )
        tp, fp, fn = row["tp"], row["fp"], row["fn"]
        p = tp / (tp + fp) if tp + fp else 0.0
        r = tp / (tp + fn) if tp + fn else 0.0
        f1 = 2 * p * r / (p + r) if p + r else 0.0
        return {"tp": tp, "fp": fp, "fn": fn, "precision": p, "recall": r, "f1": f1}

    # -- main loop (D1/D6) -----------------------------------------------------

    def run(self, resume: bool = False) -> dict:
        start_iter = self.last_complete_iteration() if resume else 0
        if start_iter > 0:
            state = self._read_state(start_iter)
            with open(
                os.path.join(self._iter_dir(start_iter), "_meta.json"), encoding="utf-8"
            ) as fh:
                prev_meta = json.load(fh)
            cp = prev_meta.get("chosen_path")
            self.to_expand = Row(**cp) if cp else None
            n_visited = prev_meta.get("rows", {}).get("visited")
        else:
            state = self._empty_state()
            n_visited = 0

        stop_reason = "iterations_exhausted"
        try:
            for it in range(start_iter + 1, self.cfg.iterations + 1):
                self._visited_rows = n_visited
                state, meta = self.run_one_iteration(it, state)
                if meta.get("stop"):
                    stop_reason = meta["stop"]
                    break
                m = self._metrics(state)
                if m:
                    meta["metrics"] = m
                    self.metrics.append({"iteration": it, **m})
                meta = self._write_state(it, state, meta)
                state = self._read_state(it)  # reload: truncate lineage
                self._release()
                n_visited = meta["rows"]["visited"]
                if n_visited >= self.cfg.max_uri:
                    stop_reason = "max_uri"
                    break
                if self.cfg.walk == "informed" and self.to_expand is None:
                    stop_reason = "no_best_path"
                    break
        finally:
            self._release()
            self._visited_rows = None

        return {
            "stop_reason": stop_reason,
            "last_iteration": self.last_complete_iteration(),
            "metrics": self.metrics,
        }

    def final_state(self) -> dict:
        return self._read_state(self.last_complete_iteration())
