#!/usr/bin/env python3
"""Daily-append soak (round-5 judge item 6): the composed nightly job
(pipeline_append.daily_append — delta triples -> incremental CC ->
warm-start PageRank -> MERGE delta emit) measured against the
rebuild-from-scratch alternative (full-corpus extraction + cold CC +
cold PageRank + full table rewrite, i.e. what the reference does every
run) at two history sizes.

Fixture: sf0.01 transcripts replicated Hx with fresh conv_ids (history);
the day's batch extends 2% of conversations by 2 turns and opens 1% new
3-turn conversations. The batch is CONSTANT-FRACTION, so the incremental
wall should stay ~flat in H while the rebuild wall scales with H.

Usage: python scripts/soak_daily_append.py [H ...]   (default: 10 100)
"""

from __future__ import annotations

import shutil
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

from chronographer_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"


def synth(spark, h: int):
    from chronographer_spark.data.transcripts import transcripts_from_events

    tx = transcripts_from_events(spark, SF)
    hist = (
        tx.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(h - 1))))
        .withColumn(
            "conv_id",
            F.concat(F.col("conv_id"), F.lit("h"), F.col("rep").cast("string")),
        )
        .drop("rep")
        .repartition(64, "conv_id")
        .localCheckpoint(eager=True)
    )
    tails = (
        hist.groupBy("conv_id")
        .agg(F.max("turn_idx").alias("turn_idx"))
        .withColumn("touch", F.abs(F.hash("conv_id")) % 50 == 0)
    )
    bridge = hist.join(
        tails.filter("touch").select("conv_id", "turn_idx"),
        ["conv_id", "turn_idx"],
    ).localCheckpoint(eager=True)
    ext = (
        bridge.withColumn("k", F.explode(F.array(F.lit(1), F.lit(2))))
        .select(
            "conv_id",
            (F.col("turn_idx") + F.col("k")).alias("turn_idx"),
            F.element_at(
                F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
                (F.col("turn_idx") + F.col("k")) % 3 + 1,
            ).alias("role"),
            F.concat(
                F.lit("event login with value 7 recorded on 2024-02-0"),
                ((F.col("turn_idx") + F.col("k")) % 7 + 1).cast("string"),
            ).alias("text"),
            F.lit("").alias("tool"),
            F.col("ts"),
        )
    )
    fresh = (
        tails.filter(F.abs(F.hash("conv_id")) % 100 == 1)
        .select(F.concat(F.col("conv_id"), F.lit("n")).alias("conv_id"))
        .crossJoin(spark.range(3).select(F.col("id").cast("int").alias("turn_idx")))
        .select(
            "conv_id",
            "turn_idx",
            F.element_at(
                F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
                F.col("turn_idx") % 3 + 1,
            ).alias("role"),
            F.lit("event login with value 9 recorded on 2024-02-02").alias("text"),
            F.lit("").alias("tool"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
    )
    batch = ext.unionByName(fresh).localCheckpoint(eager=True)
    return hist, bridge, batch


def main() -> int:
    hs = [int(x) for x in sys.argv[1:]] or [10, 100]
    from chronographer_spark.graph.materialize import build_event_graph
    from chronographer_spark.io.catalog import Catalog
    from chronographer_spark.linking.canonicalize import connected_components
    from chronographer_spark.operators.graph_algos import pagerank
    from chronographer_spark.pipeline_append import daily_append

    spark = get_spark(
        app_name="soak-daily-append", master="local[16]", shuffle_partitions=64
    )
    for h in hs:
        hist, bridge, batch = synth(spark, h)
        n_hist, n_batch = hist.count(), batch.count()
        root = f"/tmp/soak_append_h{h}"
        shutil.rmtree(root, ignore_errors=True)
        cat = Catalog(spark, root)
        # bootstrap: ingest full history as day 1 (untimed — both paths
        # start from the same stored state)
        daily_append(
            cat, hist, hist.limit(0), "day1", pr_iterations=45, pr_tol=1e-3
        )

        t0 = time.monotonic()
        s = daily_append(
            cat, batch, bridge, "day2", pr_iterations=45, pr_tol=1e-3
        )
        inc = time.monotonic() - t0

        # rebuild-from-scratch alternative on the same full corpus
        t0 = time.monotonic()
        g = build_event_graph(hist.unionByName(batch))
        edges = g.filter(F.col("predicate") == "ng:nextEvent").select(
            F.col("subject").alias("src"), F.col("object").alias("dst")
        ).localCheckpoint(eager=True)
        nodes = (
            edges.select(F.col("src").alias("node"))
            .unionByName(edges.select(F.col("dst").alias("node")))
            .distinct()
        )
        cc = connected_components(edges, all_nodes=nodes, precontract=True)
        pr, pr_rounds_cold = pagerank(edges, iterations=45, tol=1e-3, return_iters=True)
        n_cc, n_pr = cc.count(), pr.count()
        full = time.monotonic() - t0

        print(
            f"H={h}: hist_turns={n_hist} batch_turns={n_batch} "
            f"delta_triples={s['n_delta_triples']} "
            f"label_upserts={s['n_label_upserts']} "
            f"pr_rounds_warm={s['pr_iterations_run']}/cold={pr_rounds_cold} | "
            f"incremental={inc:.2f}s rebuild={full:.2f}s "
            f"speedup={full / inc:.2f}x (cc={n_cc} pr={n_pr})"
        )
        shutil.rmtree(root, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
