#!/usr/bin/env python3
"""Incremental-CC soak: fold a small alias batch into a big prior labeling.

The production question for a 10^12-turn canonicalization pipeline is not
"how fast is CC" but "what does the DAILY APPEND cost once the history
dwarfs every batch". This soak builds the cc_canonical chain fixture at a
scale knob (bounded degree, components of size 60 — chains are CC's
high-diameter worst case), splits it into history (~98%) and batch (~2%,
every edge incident to a node divisible by --batch-mod), materializes the
history labeling once (that is the STORED state an incremental pipeline
loads, so its cost is excluded), then times:

  full   connected_components over history ∪ batch (precontracted, the
         measured-best setting for chains) — the recompute baseline
  incr   incremental_components(prior, batch) — two passes over prior
         (broadcast endpoint lookup + map-only relabel) plus CC on the
         contracted delta graph only

plus a correctness pass OUTSIDE the timings: the two labelings must be
row-identical (mismatches == 0) and the component count must equal the
group count. Timed jobs force computation with agg(count, sum(component))
— never bare count(), which lets EliminateOuterJoin drop the relabel join
(CLAUDE.md bench hygiene).

Prints one JSON line per job: {"job", "nodes", "walls", "rows", "checksum"}.
min-of-reps is the number to trust; ratios within one invocation are
meaningful, absolute walls on this VM drift.

Usage: python scripts/soak_incremental_cc.py [--nodes 1500000]
       [--batch-mod 50] [--reps 2]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
GROUP = 60  # component size, the customer-per-nation shape


def main() -> None:
    args = sys.argv[1:]
    nodes = 1_500_000
    batch_mod = 50
    reps = 2
    if "--nodes" in args:
        i = args.index("--nodes")
        nodes = int(args[i + 1])
        del args[i : i + 2]
    if "--batch-mod" in args:
        i = args.index("--batch-mod")
        batch_mod = int(args[i + 1])
        del args[i : i + 2]
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]

    from pyspark.sql import functions as F

    from chronographer_spark.session import get_spark
    from chronographer_spark.linking.canonicalize import (
        connected_components,
        incremental_components,
    )

    spark = get_spark(
        app_name="soak-incremental-cc",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
    )

    ids = spark.range(nodes).select(F.col("id").cast("long").alias("id"))
    full = (
        ids.filter((F.col("id") + 1) % GROUP != 0)
        .filter(F.col("id") + 1 < nodes)
        .select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    )
    is_new = lambda c: c % batch_mod == 0  # noqa: E731
    hist = full.filter(~is_new(F.col("src")) & ~is_new(F.col("dst")))
    batch = full.filter(is_new(F.col("src")) | is_new(F.col("dst")))
    all_nodes = ids.select(F.col("id").alias("node"))
    old_nodes = all_nodes.filter(~is_new(F.col("node")))

    # stored state: the prior labeling (cost excluded — a real pipeline
    # loads this from the catalog)
    prior = connected_components(
        hist, all_nodes=old_nodes, precontract=True
    ).localCheckpoint(eager=True)
    full_edges = full.localCheckpoint(eager=True)
    batch_edges = batch.localCheckpoint(eager=True)
    n_batch = batch_edges.count()
    n_full = full_edges.count()

    def force(df):
        r = df.agg(
            F.count(F.lit(1)).alias("n"), F.sum("component").alias("s")
        ).collect()[0]
        return int(r["n"]), int(r["s"])

    results = {}
    for job in ("full", "incr", "incr_delta"):
        walls, rows, chks = [], None, None
        for _ in range(reps):
            t0 = time.time()
            if job == "full":
                out = connected_components(
                    full_edges, all_nodes=all_nodes, precontract=True
                )
            elif job == "incr":
                out = incremental_components(prior, batch_edges)
            else:
                # production daily-append: emit only the MERGE INTO rows
                out = incremental_components(prior, batch_edges, emit="delta")
            rows, chks = force(out)
            walls.append(round(time.time() - t0, 2))
        results[job] = out
        print(
            json.dumps(
                {
                    "job": job,
                    "nodes": nodes,
                    "batch_edges": n_batch,
                    "full_edges": n_full,
                    "walls": walls,
                    "rows": rows,
                    "checksum": chks,
                }
            ),
            flush=True,
        )

    # correctness outside the timings: labelings must be row-identical,
    # and prior ⊕ delta must equal the full labeling
    d = results["incr_delta"].withColumnRenamed("component", "cd")
    applied = (
        prior.join(d, "node", "left")
        .select("node", F.coalesce("cd", F.col("component")).alias("component"))
        .unionByName(d.join(prior, "node", "left_anti").select("node", F.col("cd").alias("component")))
    )
    fa = results["full"].withColumnRenamed("component", "ca")
    d_mism = (
        fa.join(applied.withColumnRenamed("component", "cb"), "node", "full")
        .filter(
            F.col("ca").isNull()
            | F.col("cb").isNull()
            | (F.col("ca") != F.col("cb"))
        )
        .count()
    )
    a = results["full"].withColumnRenamed("component", "ca")
    b = results["incr"].withColumnRenamed("component", "cb")
    mism = (
        a.join(b, "node", "full")
        .filter(
            F.col("ca").isNull()
            | F.col("cb").isNull()
            | (F.col("ca") != F.col("cb"))
        )
        .count()
    )
    ncomp = results["incr"].select("component").distinct().count()
    expect = (nodes + GROUP - 1) // GROUP
    print(
        json.dumps(
            {
                "job": "check",
                "mismatches": mism,
                "delta_applied_mismatches": d_mism,
                "components": ncomp,
                "expected": expect,
            }
        ),
        flush=True,
    )
    assert mism == 0 and d_mism == 0 and ncomp == expect


if __name__ == "__main__":
    main()
