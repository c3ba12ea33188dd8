#!/usr/bin/env python3
"""Scale soak: run the heavy pipelines on a ~10x-replicated sf0.1 input to
surface memory cliffs and shuffle degradation the seconds-scale bench can't.

Jobs (all at local[$SPARK_GRAFT_CPUS], default 32):
  - minhash_lsh: signatures + banded candidate pairs over replicated docs
  - near_dup_cc: LSH candidates -> exact Jaccard -> connected components
    (the full corpus-dedup flow, CC on the real near-dup graph structure)
  - flagship: build_event_graph over replicated transcripts

Each replica gets distinct ids (doc_id offset / conv_id suffix) so dedup
and CC see a genuinely larger problem, not 10 copies of the same keys;
within-replica duplicate structure is preserved, so the near-dup graph
grows linearly in replicas. Prints one JSON line per job with per-rep
times (use min — CLAUDE.md: trust min-of-reps on this noisy host).

Usage: python scripts/soak.py [repl] [reps]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def replicated_docs(spark, repl: int):
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = docs.count()
    return (
        docs.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(repl - 1))))
        .withColumn("doc_id", F.col("doc_id") + F.col("rep") * (10 * n))
        .drop("rep")
        .repartition(4 * CPUS)
    )


def main() -> None:
    repl = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    from pyspark.sql import functions as F

    from chronographer_spark.data.transcripts import transcripts_from_events
    from chronographer_spark.graph.materialize import build_event_graph
    from chronographer_spark.linking.canonicalize import connected_components
    from chronographer_spark.operators.dedup import minhash_dedup, minhash_lsh_candidates
    from chronographer_spark.session import get_spark

    spark = get_spark(
        app_name=f"soak-{repl}x", master=f"local[{CPUS}]", shuffle_partitions=4 * CPUS
    )
    docs = replicated_docs(spark, repl).persist()
    n_docs = docs.count()

    tx = transcripts_from_events(spark, SF_DIR)
    tx = (
        tx.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(repl - 1))))
        .withColumn("conv_id", F.concat("conv_id", F.lit("r"), F.col("rep").cast("string")))
        .drop("rep")
        .repartition(4 * CPUS, "conv_id")
        .persist()
    )
    n_turns = tx.count()

    def job_minhash():
        return minhash_lsh_candidates(docs, num_hashes=16, bands=4, shingle_n=2).count()

    def job_near_dup_cc():
        # production-shaped parameters: 3-gram shingles keep the candidate
        # set near-linear. 1-gram shingles on this corpus's ~40-word
        # vocabulary make every doc near-every-doc (37% of ALL pairs became
        # candidates at sf0.01) and the verify join degenerates to O(n²) —
        # measured 226s at repl=2 vs seconds with 3-grams. The gate query
        # keeps 1-gram only because its oracle replays exactly; never use
        # 1-gram shingles on a small-vocabulary corpus at scale.
        pairs = minhash_dedup(docs, threshold=0.8, num_hashes=16, bands=4, shingle_n=3)
        edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        nodes = docs.select(F.col("doc_id").alias("node"))
        return connected_components(edges, all_nodes=nodes).count()

    def job_near_dup_exact_first():
        # the production composition: collapse exact dups first, near-dup on
        # representatives, CC over both edge sets — same clusters, without
        # replicating shingle arrays per duplicate pair
        from chronographer_spark.operators.dedup import near_dup_clusters_exact_first

        return near_dup_clusters_exact_first(
            docs, threshold=0.8, num_hashes=16, bands=4, shingle_n=3
        ).count()

    def job_flagship():
        return build_event_graph(tx).count()

    results = {"repl": repl, "cores": CPUS, "n_docs": n_docs, "n_turns": n_turns}
    for name, fn in [
        ("minhash_lsh", job_minhash),
        ("near_dup_cc", job_near_dup_cc),
        ("near_dup_exact_first", job_near_dup_exact_first),
        ("flagship", job_flagship),
    ]:
        times, rows = [], None
        for _ in range(reps):
            t0 = time.monotonic()
            rows = fn()
            times.append(round(time.monotonic() - t0, 2))
        results[name] = {"rows": rows, "secs": times, "min_sec": min(times)}
        print(json.dumps({name: results[name]}), flush=True)
    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
