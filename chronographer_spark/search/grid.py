"""Grid-search runner over search configurations.

The reference's experiment drivers loop a config grid over the framework —
run_all_grid_search.py (ranking-strategy x filter combinations) and
run_all_search.py (one run per dataset/seed) under experiments_run/. Here
the grid expands over `SearchConfig` fields; each combination runs the
iterative search with its own run_id (its own checkpoint namespace, so any
grid cell is individually resumable), and the summary lands in one
DataFrame.

Cells run sequentially by default: one search already parallelizes across
the cluster, and the reference's grids are small (dozens of cells). Pass
`parallelism > 1` to run cells from a bounded thread pool — each worker
thread submits its cell's jobs under its own Spark scheduler pool
(`spark.scheduler.pool` is a thread-local property), and each cell already
has its own run_id/checkpoint namespace, so state never crosses cells.
This pays off when cells are small relative to the cluster (an iterative
search has driver-side gaps between jobs; a second cell's jobs fill the
idle executor slots). For very large per-cell jobs on a shared cluster,
separate applications (submit.sh per cell) remain the better isolation.
"""

from __future__ import annotations

import itertools
import json
from concurrent.futures import ThreadPoolExecutor
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.filtering import FilteringConfig
from .driver import GraphSearch, SearchConfig


def expand_grid(base: SearchConfig, grid: dict[str, list]) -> list[tuple[str, SearchConfig]]:
    """Cartesian expansion of `grid` over `base` -> [(cell_id, config)].

    cell_id encodes the swept values (stable, filesystem-safe), so grid
    checkpoints never collide."""
    keys = sorted(grid)
    out = []
    for combo in itertools.product(*(grid[k] for k in keys)):
        params = dict(zip(keys, combo))
        cfg = replace(base, **params)
        cell_id = "_".join(
            f"{k}-{str(v).replace('/', '.')[:40]}" for k, v in sorted(params.items())
        )
        out.append((cell_id, cfg))
    return out


def run_grid(
    spark: SparkSession,
    triples: DataFrame,
    base: SearchConfig,
    filtering: FilteringConfig,
    grid: dict[str, list],
    checkpoint_dir: str,
    pred_domain: DataFrame | None = None,
    pred_range: DataFrame | None = None,
    superclasses: DataFrame | None = None,
    gold_events: DataFrame | None = None,
    parallelism: int = 1,
) -> DataFrame:
    """Run every grid cell; return a summary DataFrame
    (cell_id, params_json, n_subgraph_triples, n_nodes, best_f1) — n_nodes
    counts distinct subject/object nodes of the final subgraph.

    With `parallelism > 1`, up to that many cells run concurrently from a
    thread pool, each under its own scheduler pool. Result order is the
    grid-expansion order either way."""

    def _run_cell(cell: tuple[str, SearchConfig]) -> tuple:
        cell_id, cfg = cell
        # scheduler pool is a thread-local SparkContext property: each
        # worker thread's jobs are grouped and fair-shared per cell
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", f"grid-{cell_id}")
        try:
            gs = GraphSearch(
                spark,
                triples,
                cfg,
                filtering,
                pred_domain=pred_domain,
                pred_range=pred_range,
                superclasses=superclasses,
                checkpoint_dir=checkpoint_dir,
                run_id=f"grid-{cell_id}",
                gold_events=gold_events,
            )
            gs.run()
            state = gs.final_state()
            sub = (
                state["subgraph"]
                .select("subject", "predicate", "object")
                .dropDuplicates()
            )
            # one pass: each triple yields its subject (pos 0) and object
            n_triples, n_nodes = (
                sub.select(F.posexplode(F.array("subject", "object")))
                .agg(
                    F.count(F.when(F.col("pos") == 0, 1)),
                    F.countDistinct("col"),
                )
                .first()
            )
            best_f1 = max((m.get("f1", 0.0) for m in gs.metrics), default=None)
            swept = {k: getattr(cfg, k) for k in sorted(grid) if hasattr(cfg, k)}
            return (
                cell_id,
                json.dumps(swept, sort_keys=True),
                n_triples,
                n_nodes,
                best_f1,
            )
        finally:
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)

    cells = expand_grid(base, grid)
    if parallelism > 1 and len(cells) > 1:
        with ThreadPoolExecutor(max_workers=min(parallelism, len(cells))) as pool:
            rows = list(pool.map(_run_cell, cells))
    else:
        rows = [_run_cell(c) for c in cells]
    return spark.createDataFrame(
        rows,
        "cell_id string, params_json string, n_subgraph_triples long, "
        "n_nodes long, best_f1 double",
    )
