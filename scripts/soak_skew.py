#!/usr/bin/env python3
"""Hub-skew soak: Zipf-degree alias graph for the linking path (r3 verdict #1).

The round-3 soaks replicated DISJOINT users — skew-free by construction — so
the hub story for canonicalization rested on one AQE plan pin. This soak
builds the adversarial fixture directly: a synthetic alias graph whose
degree sequence is Zipf (entity i has max(4, H DIV (i+1)) aliases), so
entity 0 is a `dbr:France`-grade hub with H aliases while the tail is
degree-4 — the shape of a real sameAs graph (reference
src/get_equivalent_url.py:13-35 semantics: URI-variant alias sets of wildly
unequal size). Alias ids are STRINGS (URI-like), the worst case for shuffle
bandwidth. 75% of each entity's alias edges star onto alias 0 (the hub key
concentration) and 25% chain to the previous alias (diameter, so
precontraction has work to do).

Scale knob: --hub H sets the hub alias count (1e4 = "10x", 1e5 = "100x" in
the verdict's terms); n_entities = max(2000, H DIV 5) keeps a long tail.

Jobs:
  cc / cc_pre                   connected_components on the graph, without
                                and with precontraction; correctness:
                                n components == n entities, hub label checked
  canon                         canonical_dictionary (the production path)
  join_plain / join_salted      the canonicalization fact-to-dim join with
                                broadcast DISABLED (the web-scale regime
                                where the dict outgrows the driver): plain
                                AQE sort-merge vs skew.py salted_join on the
                                hub-concentrated canonical key; row counts
                                must agree
  cnt_plain / cnt_salted        hot-key groupBy count: plain vs salted_count

Prints one JSON line per job: {"job":..., "hub":..., "walls": [...],
"rows": N}. min-of-reps is the number to trust (CLAUDE.md: walls on this VM
drift; ratios within one invocation are meaningful).

Usage: python scripts/soak_skew.py [--hub 100000] [--reps 2] [job ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> None:
    args = sys.argv[1:]
    hub = 100_000
    reps = 2
    if "--hub" in args:
        i = args.index("--hub")
        hub = int(args[i + 1])
        del args[i : i + 2]
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]
    only = set(args)

    from pyspark.sql import functions as F

    from chronographer_spark.linking.canonicalize import (
        canonical_dictionary,
        connected_components,
    )
    from chronographer_spark.operators.skew import salted_count, salted_join
    from chronographer_spark.session import get_spark

    spark = get_spark(
        app_name=f"soak-skew-h{hub}",
        master=f"local[{CPUS}]",
        shuffle_partitions=4 * CPUS,
    )

    n_ent = max(2000, hub // 5)
    # entity i: deg = max(4, hub DIV (i+1)) aliases e{i}_a1..a{deg};
    # edge a{j} -> a0 (star, 75%) or a{j-1} (chain, j % 4 == 0)
    ent = spark.range(n_ent).select(F.col("id").alias("ent"))
    deg = F.greatest(F.lit(4), F.expr(f"{hub} DIV (ent + 1)"))
    edges = (
        ent.select("ent", F.explode(F.sequence(F.lit(1), deg)).alias("j"))
        .select(
            F.format_string("e%d_a%d", "ent", "j").alias("src"),
            F.when(
                (F.col("j") % 4 == 0) & (F.col("j") > 1),
                F.format_string("e%d_a%d", "ent", F.col("j") - 1),
            )
            .otherwise(F.format_string("e%d_a0", "ent"))
            .alias("dst"),
        )
        .repartition(4 * CPUS)
        .localCheckpoint(eager=True)
    )
    n_edges = edges.count()
    print(
        json.dumps(
            {"fixture": "zipf_alias", "hub": hub, "n_ent": n_ent,
             "n_edges": n_edges, "cpus": CPUS}
        ),
        flush=True,
    )

    def run(name, fn):
        if only and name not in only:
            return
        walls, rows = [], None
        for _ in range(reps):
            t0 = time.time()
            rows = fn()
            walls.append(round(time.time() - t0, 2))
        print(
            json.dumps(
                {"job": name, "hub": hub, "walls": walls, "rows": rows}
            ),
            flush=True,
        )

    def _check_cc(cc):
        agg = cc.groupBy("component").agg(F.count("*").alias("n"))
        r = agg.agg(
            F.count("*").alias("n_comp"), F.max("n").alias("max_n")
        ).first()
        assert r["n_comp"] == n_ent, (r["n_comp"], n_ent)
        assert r["max_n"] == hub + 1, (r["max_n"], hub)
        return int(r["n_comp"])

    def job_cc():
        return _check_cc(connected_components(edges))

    def job_cc_pre():
        return _check_cc(connected_components(edges, precontract=True))

    def job_canon():
        d = canonical_dictionary(edges)
        r = (
            d.groupBy("canonical")
            .agg(F.count("*").alias("n"))
            .agg(F.count("*").alias("k"), F.max("n").alias("mx"))
            .first()
        )
        assert r["k"] == n_ent and r["mx"] == hub + 1, (r["k"], r["mx"])
        return int(r["k"])

    # --- the canonicalization join under broadcast-ineligible dims --------
    # facts: one row per alias EDGE keyed by the canonical entity (hub key
    # appears ~hub times); dim: one row per canonical (too big to broadcast
    # at web scale — force that regime by disabling auto-broadcast)
    facts = edges.select(
        F.regexp_extract("src", r"e(\d+)_", 1).alias("canonical"),
        F.length("src").alias("payload"),
    ).localCheckpoint(eager=True)
    facts.count()
    dim = (
        ent.select(
            F.col("ent").cast("string").alias("canonical"),
            F.md5(F.col("ent").cast("string")).alias("meta"),
        )
        .repartition(CPUS)
        .localCheckpoint(eager=True)
    )
    dim.count()

    def _no_broadcast():
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1"
        )

    def _restore_broadcast():
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")

    def job_join_plain():
        _no_broadcast()
        try:
            n = facts.join(dim, "canonical").agg(
                F.count("*").alias("n"), F.sum("payload").alias("s")
            ).first()["n"]
        finally:
            _restore_broadcast()
        assert n == n_edges, (n, n_edges)
        return int(n)

    def job_join_salted():
        _no_broadcast()
        try:
            n = salted_join(facts, dim, "canonical", salt_buckets=CPUS).agg(
                F.count("*").alias("n"), F.sum("payload").alias("s")
            ).first()["n"]
        finally:
            _restore_broadcast()
        assert n == n_edges, (n, n_edges)
        return int(n)

    def job_cnt_plain():
        r = (
            facts.groupBy("canonical")
            .agg(F.count("*").alias("count"))
            .agg(F.count("*").alias("k"), F.max("count").alias("mx"))
            .first()
        )
        assert r["k"] == n_ent
        return int(r["mx"])

    def job_cnt_salted():
        r = (
            salted_count(facts, ["canonical"], salt_buckets=CPUS)
            .agg(F.count("*").alias("k"), F.max("count").alias("mx"))
            .first()
        )
        assert r["k"] == n_ent
        return int(r["mx"])

    run("cc", job_cc)
    run("cc_pre", job_cc_pre)
    run("canon", job_canon)
    run("join_plain", job_join_plain)
    run("join_salted", job_join_salted)
    run("cnt_plain", job_cnt_plain)
    run("cnt_salted", job_cnt_salted)


if __name__ == "__main__":
    main()
