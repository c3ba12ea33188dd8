"""Metrics parity, catalog shim, TTL export, streaming ingestion."""

import glob
import time

import pytest
from pyspark.sql import functions as F


def test_event_metrics_with_referents(spark):
    from chronographer_spark.metrics import event_metrics

    found = spark.createDataFrame([("a_alias",), ("b",), ("x",)], ["event"])
    gold = spark.createDataFrame([("a",), ("b",), ("c",)], ["event"])
    refs = spark.createDataFrame([("a_alias", "a")], ["alias", "canonical"])
    m = event_metrics(found, gold, referents=refs)
    assert m["tp"] == 2 and m["fp"] == 1 and m["fn"] == 1
    assert abs(m["precision"] - 2 / 3) < 1e-9
    assert abs(m["recall"] - 2 / 3) < 1e-9


def test_triple_metrics_reference_formulas(spark):
    """Replicates the reference's swapped P/R naming
    (sem_comparison.py:63-75)."""
    from chronographer_spark.metrics import triple_metrics
    from chronographer_spark.vocab import NF_TO_PRED

    actor = NF_TO_PRED["who"]
    place = NF_TO_PRED["where"]
    constructed = spark.createDataFrame(
        [("e1", actor, "p1"), ("e1", place, "paris"), ("e2", actor, "p2")],
        ["subject", "predicate", "object"],
    )
    gold = spark.createDataFrame(
        [("e1", actor, "p1"), ("e1", place, "lyon")],
        ["subject", "predicate", "object"],
    )
    m = triple_metrics(constructed, gold)
    # common=1, gold_only=1, constructed_only=2
    assert m["all"]["common"] == 1
    assert m["all"]["gold_only"] == 1
    assert m["all"]["constructed_only"] == 2
    assert abs(m["all"]["precision"] - 1 / 2) < 1e-9  # common/(common+gold_only)
    assert abs(m["all"]["recall"] - 1 / 3) < 1e-9  # common/(common+constructed_only)
    assert actor in m["per_predicate"]


def test_catalog_roundtrip_and_merge(spark, tmp_path):
    from chronographer_spark.io.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    cat.write(df, "t1")
    assert cat.exists("t1")
    assert cat.read("t1").count() == 2

    delta = spark.createDataFrame([(2, "B"), (3, "c")], ["id", "v"])
    cat.merge_upsert(delta, "t1", keys=["id"])
    got = {(r.id, r.v) for r in cat.read("t1").collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_merge_upsert_partition_pruned(spark, tmp_path):
    """Partition-aware MERGE: only partitions containing delta keys are
    rewritten; untouched partition files stay byte-identical."""
    import glob
    import os

    from chronographer_spark.io.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    base = spark.createDataFrame(
        [("p1", "a", 1), ("p1", "b", 2), ("p2", "c", 3), ("p3", "d", 4)],
        ["part", "k", "v"],
    )
    cat.write(base, "t", partition_by=["part"])

    def snapshot(part):
        files = sorted(glob.glob(os.path.join(str(tmp_path), "t", f"part={part}", "*.parquet")))
        return [(os.path.basename(f), open(f, "rb").read()) for f in files]

    before_p2, before_p3 = snapshot("p2"), snapshot("p3")
    delta = spark.createDataFrame(
        [("p1", "b", 20), ("p1", "e", 5)], ["part", "k", "v"]
    )
    cat.merge_upsert(delta, "t", keys=["part", "k"], partition_col="part")
    # untouched partitions byte-identical (not rewritten, not just equal)
    assert snapshot("p2") == before_p2
    assert snapshot("p3") == before_p3
    got = {(r["part"], r["k"]): r["v"] for r in cat.read("t").collect()}
    assert got == {("p1", "a"): 1, ("p1", "b"): 20, ("p1", "e"): 5,
                   ("p2", "c"): 3, ("p3", "d"): 4}


def test_merge_upsert_key_moves_partition_no_duplicates(spark, tmp_path):
    """When partition_col is NOT part of the merge keys a key may move
    between partitions; the pruned path would leave the stale row alive in
    its old (untouched) partition. merge_upsert must detect this and fall
    back to the full merge: one row per key afterwards, in the new
    partition, and the layout stays partitioned."""
    import os

    from chronographer_spark.io.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    base = spark.createDataFrame(
        [("p1", "a", 1), ("p2", "b", 2)], ["part", "k", "v"]
    )
    cat.write(base, "t", partition_by=["part"])
    # key "a" moves from partition p1 to p3
    delta = spark.createDataFrame([("p3", "a", 10)], ["part", "k", "v"])
    cat.merge_upsert(delta, "t", keys=["k"], partition_col="part")
    rows = cat.read("t").collect()
    got = {(r["part"], r["k"]): r["v"] for r in rows}
    assert got == {("p3", "a"): 10, ("p2", "b"): 2}
    assert len(rows) == 2  # no stale duplicate of key "a" under p1
    # partition layout preserved by the fallback rewrite
    assert os.path.isdir(os.path.join(str(tmp_path), "t", "part=p3"))


def test_catalog_partitioned_triples_prune(spark, tmp_path):
    from chronographer_spark.io.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    triples = spark.createDataFrame(
        [("s1", "p1", "o1"), ("s2", "p2", "o2"), ("s3", "p1", "o3")],
        ["subject", "predicate", "object"],
    )
    cat.write_triples(triples)
    scan = cat.read("triples").filter(F.col("predicate") == "p1")
    assert scan.count() == 2
    # partition pruning: predicate=p2 directory untouched in the plan
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "p1" in plan


def test_ttl_export(spark, tmp_path):
    from chronographer_spark.io.ttl import write_ttl

    triples = spark.createDataFrame(
        [
            ("http://ex/e1", "http://ex/p", "http://ex/o"),
            ("http://ex/e1", "http://ex/date", "1789-07-14"),
            ("http://ex/e1", "http://ex/label", 'a "quoted" label'),
        ],
        ["subject", "predicate", "object"],
    )
    out = str(tmp_path / "graph.ttl")
    write_ttl(triples, out)
    text = "".join(open(f).read() for f in sorted(glob.glob(out + "/part-*")))
    assert "@prefix sem:" in text
    assert "<http://ex/e1> <http://ex/p> <http://ex/o> ." in text
    assert '"1789-07-14"^^<http://www.w3.org/2001/XMLSchema#date>' in text
    assert '\\"quoted\\"' in text


def test_streaming_ingestion_matches_batch(spark, tmp_path):
    """availableNow micro-batch run produces the same triples as batch."""
    from chronographer_spark.data.transcripts import transcripts_df
    from chronographer_spark.extraction.mentions import extract_mentions
    from chronographer_spark.graph.materialize import materialize_event_graph
    from chronographer_spark.streaming.ingest import start_triple_extraction_stream

    tx = transcripts_df(spark, n_convs=10, n_turns=6)
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    tx.write.parquet(in_dir)

    q = start_triple_extraction_stream(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(120)
    time.sleep(1)

    got = spark.read.parquet(out_dir).select("subject", "predicate", "object")
    batch = materialize_event_graph(tx.dropDuplicates(["conv_id", "turn_idx"]),
                                    extract_mentions(tx))
    g = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert g == b


def test_gold_graph_builder_templates(spark):
    """EventKG-style gold-graph construction: the seven CONSTRUCT templates
    (reference eventkg_to_ng.py:41-145) as one set-oriented plan — place,
    reified actor with provenance filter, timestamps, typing, and the
    sub/super-event walks (intended semantics; the reference templates'
    CONSTRUCT variables are unbound as written)."""
    from chronographer_spark.graph.gold import build_gold_graph

    kg = spark.createDataFrame(
        [
            ("ekg:e1", "owl:sameAs", "http://db/ev1"),
            ("ekg:e1", "sem:hasPlace", "ekg:p1"),
            ("ekg:p1", "owl:sameAs", "http://db/paris"),
            ("ekg:r1", "rdf:type", "eventkg:Relation"),
            ("ekg:r1", "rdf:subject", "ekg:e1"),
            ("ekg:r1", "rdf:object", "ekg:a1"),
            ("ekg:a1", "rdf:type", "sem:Actor"),
            ("ekg:a1", "owl:sameAs", "http://db/alice"),
            ("ekg:r2", "rdf:type", "eventkg:Relation"),
            ("ekg:r2", "rdf:subject", "ekg:e1"),
            ("ekg:r2", "rdf:object", "ekg:a2"),
            ("ekg:a2", "rdf:type", "sem:Actor"),
            ("ekg:a2", "owl:sameAs", "http://wiki/bob"),  # provenance-filtered
            ("ekg:e1", "sem:hasBeginTimeStamp", "1789-07-14"),
            ("ekg:e1", "sem:hasSubEvent", "ekg:s1"),
            ("ekg:s1", "owl:sameAs", "http://db/sub1"),
            ("ekg:e1", "sem:subEventOf", "ekg:sup1"),
            ("ekg:sup1", "owl:sameAs", "http://db/sup1"),
        ],
        ["subject", "predicate", "object"],
    )
    events = spark.createDataFrame([("http://db/ev1",)], ["event"])
    got = {tuple(r) for r in build_gold_graph(kg, events, filter_str="db").collect()}
    assert got == {
        ("http://db/ev1", "rdf:type", "sem:Event"),
        ("http://db/ev1", "sem:hasPlace", "http://db/paris"),
        ("http://db/ev1", "sem:hasActor", "http://db/alice"),
        ("http://db/ev1", "sem:hasBeginTimeStamp", "1789-07-14"),
        ("http://db/sub1", "sem:subEventOf", "http://db/ev1"),
        ("http://db/ev1", "sem:subEventOf", "http://db/sup1"),
    }


def test_incremental_dedup_stream_matches_batch(spark, tmp_path):
    """Streaming the corpus in 3 micro-batches through the incremental LSH
    index yields EXACTLY the batch pipeline's candidate-pair set, each pair
    emitted once (by the batch that ingests its later member); re-delivered
    docs are ignored via the index anti-join."""
    import os
    import time as _t

    from chronographer_spark.operators.dedup import minhash_lsh_candidates
    from chronographer_spark.streaming.dedup import start_incremental_dedup_stream

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    # 3 slices + a re-delivery of slice 0 (must be a no-op)
    slices = [
        docs.filter(F.col("doc_id") % 3 == i).select(
            "doc_id", "text", "lang", "source", "n_chars"
        )
        for i in range(3)
    ]
    for i, s in enumerate(slices):
        s.coalesce(1).write.parquet(os.path.join(in_dir, f"b{i}"))
    slices[0].coalesce(1).write.parquet(os.path.join(in_dir, "b0_redelivered"))

    pairs_dir = str(tmp_path / "pairs")
    index_dir = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    q = start_incremental_dedup_stream(
        spark, in_dir + "/*", pairs_dir, index_dir, ckpt,
        num_hashes=8, bands=2, shingle_n=1,
    )
    q.awaitTermination(240)
    _t.sleep(1)

    streamed = {
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(pairs_dir).select("id_a", "id_b").collect()
    }
    batch = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(
            docs, num_hashes=8, bands=2, shingle_n=1
        ).collect()
    }
    assert streamed == batch
    # emitted exactly once each
    n_rows = spark.read.parquet(pairs_dir).count()
    assert n_rows == len(streamed)


def test_incremental_dedup_stream_restart_exactly_once(spark, tmp_path):
    """Restarting the incremental dedup stream from its checkpoint after new
    files arrive processes ONLY the new files: no pair is re-emitted and
    the final pair set still equals the batch pipeline's."""
    import os
    import time as _t

    from chronographer_spark.operators.dedup import minhash_lsh_candidates
    from chronographer_spark.streaming.dedup import start_incremental_dedup_stream

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    halves = [docs.filter(F.col("doc_id") % 2 == i) for i in range(2)]
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    args = dict(
        pairs_dir=str(tmp_path / "pairs"),
        index_dir=str(tmp_path / "index"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        num_hashes=8, bands=2, shingle_n=1,
    )
    halves[0].coalesce(1).write.parquet(os.path.join(in_dir, "h0"))
    q = start_incremental_dedup_stream(spark, in_dir + "/*", **args)
    q.awaitTermination(120)
    _t.sleep(1)
    n_first = spark.read.parquet(args["pairs_dir"]).count()

    halves[1].coalesce(1).write.parquet(os.path.join(in_dir, "h1"))
    q2 = start_incremental_dedup_stream(spark, in_dir + "/*", **args)
    q2.awaitTermination(120)
    _t.sleep(1)

    got = spark.read.parquet(args["pairs_dir"])
    streamed = {(r["id_a"], r["id_b"]) for r in got.select("id_a", "id_b").collect()}
    batch = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(docs, num_hashes=8, bands=2, shingle_n=1).collect()
    }
    assert streamed == batch
    assert got.count() == len(streamed)  # nothing re-emitted on restart
    assert got.count() > n_first  # the restart did contribute the new half


def test_incremental_dedup_midbatch_failure_replay(spark, tmp_path):
    """Mid-batch failure (not graceful stop): a batch whose sinks committed
    but whose checkpoint commit marker was lost is REPLAYED with the same
    batch_id. Two crash points: (a) after both sinks committed — the replay
    must early-return and leave the pairs single-copy; (b) after the pairs
    commit but before the index append — the replay must recompute and
    OVERWRITE its own pairs partition, not append a second copy."""
    import os
    import shutil

    from chronographer_spark.operators.dedup import minhash_lsh_candidates
    from chronographer_spark.streaming.dedup import (
        _index_table_name,
        start_incremental_dedup_stream,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sub = docs.filter(F.col("doc_id") < 120)
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    sub.coalesce(1).write.parquet(os.path.join(in_dir, "b0"))
    args = dict(
        pairs_dir=str(tmp_path / "pairs"),
        index_dir=str(tmp_path / "index"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        num_hashes=8, bands=2, shingle_n=1,
    )
    expected = minhash_lsh_candidates(
        sub, num_hashes=8, bands=2, shingle_n=1
    ).count()

    q = start_incremental_dedup_stream(spark, in_dir + "/*", **args)
    q.awaitTermination(120)
    time.sleep(1)
    assert spark.read.parquet(args["pairs_dir"]).count() == expected

    def drop_commit_marker():
        # simulate a crash after the sinks but before the checkpoint commit:
        # Structured Streaming then re-runs the batch under the SAME batch_id
        commits = os.path.join(args["checkpoint_dir"], "commits")
        newest = max(os.listdir(commits), key=lambda f: (len(f), f))
        os.remove(os.path.join(commits, newest))

    # (a) both sinks committed -> replay is a no-op (early return)
    drop_commit_marker()
    q = start_incremental_dedup_stream(spark, in_dir + "/*", **args)
    q.awaitTermination(120)
    time.sleep(1)
    assert spark.read.parquet(args["pairs_dir"]).count() == expected

    # (b) pairs committed, index append lost -> replay recomputes and
    # overwrites the same batch partition
    drop_commit_marker()
    spark.sql(f"DROP TABLE IF EXISTS {_index_table_name(args['index_dir'])}")
    shutil.rmtree(args["index_dir"])
    q = start_incremental_dedup_stream(spark, in_dir + "/*", **args)
    q.awaitTermination(120)
    time.sleep(1)
    assert spark.read.parquet(args["pairs_dir"]).count() == expected
    # and the index was rebuilt for subsequent batches
    assert spark.read.parquet(args["index_dir"]).select(
        "doc_id"
    ).distinct().count() == sub.count()


def test_incremental_index_stream_matches_batch(spark, tmp_path):
    """Streaming the corpus in 3 micro-batches (plus a re-delivery that
    must be a no-op) accumulates EXACTLY the batch inverted index, and
    phrase search over the accumulated table equals the batch result."""
    import os
    import time as _t

    from chronographer_spark.operators.retrieval import (
        build_inverted_index,
        phrase_search,
    )
    from chronographer_spark.streaming.index import (
        read_index,
        start_incremental_index_stream,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    slices = [
        docs.filter(F.col("doc_id") % 3 == i).select(
            "doc_id", "text", "lang", "source", "n_chars"
        )
        for i in range(3)
    ]
    for i, s in enumerate(slices):
        s.coalesce(1).write.parquet(os.path.join(in_dir, f"b{i}"))
    slices[1].coalesce(1).write.parquet(os.path.join(in_dir, "b1_redelivered"))

    index_dir = str(tmp_path / "index")
    q = start_incremental_index_stream(
        spark, in_dir + "/*", index_dir, str(tmp_path / "ckpt")
    )
    q.awaitTermination(240)
    _t.sleep(1)

    acc = read_index(spark, index_dir)
    streamed = {
        (r["term"], r["doc_id"], tuple(r["positions"]), r["tf"])
        for r in acc.collect()
    }
    batch = {
        (r["term"], r["doc_id"], tuple(r["positions"]), r["tf"])
        for r in build_inverted_index(docs).collect()
    }
    assert streamed == batch

    sp = {(r["doc_id"], r["n_matches"])
          for r in phrase_search(acc, "fast table").collect()}
    bp = {(r["doc_id"], r["n_matches"])
          for r in phrase_search(build_inverted_index(docs), "fast table").collect()}
    assert sp == bp and sp


def test_incremental_index_stream_restart_idempotent(spark, tmp_path):
    """Stop after the first slice, deliver the rest, restart from the same
    checkpoint: the final index has no duplicate (term, doc) rows and
    matches the batch index."""
    import os
    import time as _t

    from chronographer_spark.operators.retrieval import build_inverted_index
    from chronographer_spark.streaming.index import (
        read_index,
        start_incremental_index_stream,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    half = [docs.filter(F.col("doc_id") % 2 == i).select(
        "doc_id", "text", "lang", "source", "n_chars") for i in range(2)]
    half[0].coalesce(1).write.parquet(os.path.join(in_dir, "b0"))

    args = dict(index_dir=str(tmp_path / "index"),
                checkpoint_dir=str(tmp_path / "ckpt"))
    q = start_incremental_index_stream(spark, in_dir + "/*", **args)
    q.awaitTermination(180)
    _t.sleep(1)

    half[1].coalesce(1).write.parquet(os.path.join(in_dir, "b1"))
    q2 = start_incremental_index_stream(spark, in_dir + "/*", **args)
    q2.awaitTermination(180)
    _t.sleep(1)

    acc = read_index(spark, args["index_dir"])
    assert acc.groupBy("term", "doc_id").count().filter(F.col("count") > 1).count() == 0
    assert acc.count() == build_inverted_index(docs).count()


def test_incremental_cms_stream_matches_batch(spark, tmp_path):
    """Streaming the corpus in 3 micro-batches accumulates a CMS equal
    counter-for-counter to the batch sketch over the whole corpus (the
    mergeability algebra, operationalized), and offline compaction folds
    the fragments without changing a single counter."""
    import os
    import time as _t

    from chronographer_spark.operators.sketches import cms_table
    from chronographer_spark.streaming.sketches import (
        cms_fragment_count,
        compact_cms_fragments,
        read_cms,
        start_incremental_cms_stream,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).select(
            "doc_id", "text", "lang", "source", "n_chars"
        ).coalesce(1).write.parquet(os.path.join(in_dir, f"b{i}"))

    sketch_dir = str(tmp_path / "sketch")
    tok = F.explode(F.filter(F.split(F.lower(F.col("text")), " "),
                             lambda t: t != F.lit("")))
    q = start_incremental_cms_stream(
        spark, in_dir + "/*", sketch_dir, str(tmp_path / "ckpt"),
        depth=4, width=128, item_expr=tok,
    )
    q.awaitTermination(240)
    _t.sleep(1)

    streamed = {
        (r["d"], r["bucket"]): r["cnt"] for r in read_cms(spark, sketch_dir).collect()
    }
    toks = docs.select(tok.alias("__item"))
    batch = {
        (r["d"], r["bucket"]): r["cnt"]
        for r in cms_table(toks, "__item", depth=4, width=128).collect()
    }
    assert streamed == batch
    assert cms_fragment_count(sketch_dir) == 3

    compact_cms_fragments(spark, sketch_dir)
    assert cms_fragment_count(sketch_dir) == 1
    compacted = {
        (r["d"], r["bucket"]): r["cnt"] for r in read_cms(spark, sketch_dir).collect()
    }
    assert compacted == batch


def test_incremental_cms_stream_replay_overwrites_fragment(spark, tmp_path):
    """Replaying a batch through process_batch (the crash path foreachBatch
    takes for the last uncommitted batch) OVERWRITES its fragment instead of
    double-counting: the accumulated sketch is unchanged."""
    import os
    import time as _t

    from chronographer_spark.streaming.sketches import (
        read_cms,
        start_incremental_cms_stream,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    docs.select("doc_id", "text", "lang", "source", "n_chars").coalesce(
        1
    ).write.parquet(os.path.join(in_dir, "b0"))

    sketch_dir = str(tmp_path / "sketch")
    q = start_incremental_cms_stream(
        spark, in_dir + "/*", sketch_dir, str(tmp_path / "ckpt"),
        col="source", depth=4, width=64,
    )
    q.awaitTermination(180)
    _t.sleep(1)
    before = {
        (r["d"], r["bucket"]): r["cnt"] for r in read_cms(spark, sketch_dir).collect()
    }

    # simulate the replay: same batch id, same content, directly
    from chronographer_spark.operators.sketches import cms_table

    frag = cms_table(
        docs.select(F.col("source").alias("__item")), "__item", depth=4, width=64
    ).withColumn("frag", F.lit(0))
    (
        frag.coalesce(1).write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("frag").parquet(sketch_dir)
    )
    after = {
        (r["d"], r["bucket"]): r["cnt"] for r in read_cms(spark, sketch_dir).collect()
    }
    assert after == before


def test_incremental_hll_stream_matches_batch(spark, tmp_path):
    """Accumulated HLL registers from per-batch fragments equal the batch
    hll_registers over everything delivered (max-merge), so the estimate
    matches exactly; replaying a fragment (overwrite on frag=batch_id)
    changes nothing because max is idempotent."""
    import os

    from chronographer_spark.operators.sketches import hll_distinct
    from chronographer_spark.streaming.sketches import (
        compact_hll_fragments,
        hll_stream_estimate,
        read_hll,
        start_incremental_hll_stream,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    halves = [docs.filter(F.col("doc_id") % 2 == i) for i in range(2)]
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    for i, h in enumerate(halves):
        h.coalesce(1).write.parquet(os.path.join(in_dir, f"h{i}"))

    item = F.explode(F.split(F.lower(F.trim(F.col("text"))), " "))
    q = start_incremental_hll_stream(
        spark, in_dir + "/*", str(tmp_path / "sk"), str(tmp_path / "ck"),
        item_expr=item,
    )
    q.awaitTermination(120)
    time.sleep(1)

    got = hll_stream_estimate(spark, str(tmp_path / "sk")).first()["estimate"]
    toks = docs.select(item.alias("tok"))
    exp = hll_distinct(toks, "tok").first()["estimate"]
    assert got == exp

    # replay idempotency: rewriting one half's registers under an existing
    # frag id leaves the merged registers unchanged
    before = {(r.bucket, r.rho) for r in read_hll(spark, str(tmp_path / "sk")).collect()}
    from chronographer_spark.operators.sketches import hll_registers

    frag = hll_registers(
        halves[0].select(item.alias("__item")), "__item"
    ).withColumn("frag", F.lit(0))
    frag.coalesce(1).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("frag").parquet(str(tmp_path / "sk"))
    after = {(r.bucket, r.rho) for r in read_hll(spark, str(tmp_path / "sk")).collect()}
    assert after == before

    # compaction folds to one fragment without changing the estimate
    compact_hll_fragments(spark, str(tmp_path / "sk"))
    assert hll_stream_estimate(spark, str(tmp_path / "sk")).first()["estimate"] == exp


def test_incremental_bloom_stream_matches_batch(spark, tmp_path):
    """Union-distinct of per-batch bloom fragments equals the batch filter;
    probing the streamed filter gives identical maybe/absent verdicts."""
    import os

    from chronographer_spark.operators.sketches import (
        bloom_build,
        bloom_maybe_contains,
    )
    from chronographer_spark.streaming.sketches import (
        read_bloom,
        start_incremental_bloom_stream,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    halves = [docs.filter(F.col("doc_id") % 2 == i) for i in range(2)]
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    for i, h in enumerate(halves):
        h.coalesce(1).write.parquet(os.path.join(in_dir, f"h{i}"))

    q = start_incremental_bloom_stream(
        spark, in_dir + "/*", str(tmp_path / "sk"), str(tmp_path / "ck")
    )
    q.awaitTermination(120)
    time.sleep(1)

    streamed = read_bloom(spark, str(tmp_path / "sk"))
    batch = bloom_build(docs, "text")
    s = {r.bit for r in streamed.collect()}
    b = {r.bit for r in batch.collect()}
    assert s == b

    cand = docs.limit(3).select("text").unionByName(
        spark.createDataFrame([("definitely unseen text",)], ["text"])
    )
    got = {
        r.text: r.maybe
        for r in bloom_maybe_contains(streamed, cand, "text").collect()
    }
    assert got["definitely unseen text"] == 0
    assert sum(v for t, v in got.items() if t != "definitely unseen text") == 3


def _scd2_events_schema():
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    return StructType(
        [
            StructField("ent", StringType()),
            StructField("ts", TimestampType()),
            StructField("event_id", LongType()),
            StructField("v", LongType()),
        ]
    )


def _scd2_rows(spark, rows):
    return spark.createDataFrame(rows, _scd2_events_schema())


def test_scd2_stream_parity_and_restart(spark, tmp_path):
    """After each micro-batch the reconstructed interval table equals the
    batch operator over all events so far; replay after checkpoint loss of
    the sink (but not the source checkpoint) cannot occur, so instead we
    restart the SAME checkpoint with new input and verify no double
    counting; compaction preserves the table."""
    from datetime import datetime

    from chronographer_spark.operators.temporal import scd2_compact
    from chronographer_spark.streaming.scd2 import (
        compact_scd2_log,
        read_scd2_table,
        start_scd2_stream,
    )

    t = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    src = tmp_path / "in"
    src.mkdir()
    log_dir = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")

    batch1 = [
        ("e1", t(0), 1, 10),
        ("e1", t(1), 2, 10),
        ("e1", t(2), 3, 20),
        ("e2", t(0), 4, 5),
    ]
    batch2 = [
        ("e1", t(3), 5, 20),   # extends open run
        ("e1", t(4), 6, 10),   # closes it, reopens 10
        ("e3", t(0), 7, 1),    # new key
    ]

    def run_stream():
        q = start_scd2_stream(
            spark,
            str(src),
            log_dir,
            ckpt,
            key_cols=["ent"],
            value_col="v",
            tiebreak="event_id",
            schema=_scd2_events_schema(),
        )
        q.awaitTermination(120)

    def expected(rows):
        df = _scd2_rows(spark, rows).withColumn("key", F.col("ent"))
        out = scd2_compact(df, keys=["key"], value_col="v", tiebreak="event_id")
        return {
            (r["key"], r["value"], r["valid_from"], r["valid_to"], r["n_obs"])
            for r in out.collect()
        }

    def got():
        cur = read_scd2_table(spark, log_dir)
        return {
            (r["key"], r["value"], r["valid_from"], r["valid_to"], r["n_obs"])
            for r in cur.collect()
        }

    _scd2_rows(spark, batch1).coalesce(1).write.mode("append").parquet(str(src))
    run_stream()
    assert got() == expected(batch1)

    # restart the SAME checkpoint with one more file: only the new file
    # processes (no double counting of batch1)
    _scd2_rows(spark, batch2).coalesce(1).write.mode("append").parquet(str(src))
    run_stream()
    assert got() == expected(batch1 + batch2)

    compact_scd2_log(spark, log_dir)
    assert got() == expected(batch1 + batch2)


def test_incremental_cc_stream_matches_batch(spark, tmp_path):
    """Streaming chain edges in interleaved slices (so later batches MERGE
    components built by earlier ones) plus a re-delivered slice yields
    exactly the batch connected_components dictionary."""
    import os
    import time as _t

    from chronographer_spark.linking.canonicalize import connected_components
    from chronographer_spark.streaming.canonical import (
        read_cc_index,
        start_incremental_cc_stream,
    )

    # two chains (0..30 and 100..118) sliced by i % 3: slice 2's edges
    # bridge the singleton/partial components slices 0-1 created
    all_edges = [(i, i + 1) for i in range(30)] + [
        (i, i + 1) for i in range(100, 118)
    ]
    edf = spark.createDataFrame(all_edges, "src long, dst long")
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    for s in range(3):
        rows = [e for j, e in enumerate(all_edges) if j % 3 == s]
        spark.createDataFrame(rows, "src long, dst long").coalesce(1).write.parquet(
            os.path.join(in_dir, f"b{s}")
        )
    rows0 = [e for j, e in enumerate(all_edges) if j % 3 == 0]
    spark.createDataFrame(rows0, "src long, dst long").coalesce(1).write.parquet(
        os.path.join(in_dir, "b0_redelivered")
    )

    index_dir = str(tmp_path / "index")
    q = start_incremental_cc_stream(
        spark, in_dir + "/*", index_dir, str(tmp_path / "ckpt"), n_parts=4
    )
    q.awaitTermination(240)
    _t.sleep(1)

    streamed = {
        (r["node"], r["comp"])
        for r in read_cc_index(spark, index_dir).collect()
    }
    batch = {
        (r["node"], r["component"])
        for r in connected_components(edf).collect()
    }
    assert streamed == batch
    # exactly one row per node (idempotent rewrites, no duplicates)
    assert read_cc_index(spark, index_dir).count() == len(
        {n for n, _ in batch}
    )


def test_incremental_cc_stream_restart_merges_across_runs(spark, tmp_path):
    """Restart from checkpoint: the second run's edges merge components the
    first run built, and the final index equals batch CC over everything."""
    import os
    import time as _t

    from chronographer_spark.linking.canonicalize import connected_components
    from chronographer_spark.streaming.canonical import (
        read_cc_index,
        start_incremental_cc_stream,
    )

    first = [(1, 2), (3, 4), (10, 11)]
    second = [(2, 3), (11, 12), (20, 21)]  # (2,3) merges {1,2} with {3,4}
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    args = dict(
        index_dir=str(tmp_path / "index"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_parts=4,
    )
    spark.createDataFrame(first, "src long, dst long").coalesce(1).write.parquet(
        os.path.join(in_dir, "h0")
    )
    q = start_incremental_cc_stream(spark, in_dir + "/*", **args)
    q.awaitTermination(120)
    _t.sleep(1)
    spark.createDataFrame(second, "src long, dst long").coalesce(1).write.parquet(
        os.path.join(in_dir, "h1")
    )
    q2 = start_incremental_cc_stream(spark, in_dir + "/*", **args)
    q2.awaitTermination(120)
    _t.sleep(1)

    streamed = {
        (r["node"], r["comp"])
        for r in read_cc_index(spark, args["index_dir"]).collect()
    }
    edf = spark.createDataFrame(first + second, "src long, dst long")
    batch = {
        (r["node"], r["component"])
        for r in connected_components(edf).collect()
    }
    assert streamed == batch


def test_cusum_stream_parity_and_restart(spark, tmp_path):
    """The streaming online CUSUM equals the batch twin over all input so
    far (closed buckets only), alarms fire exactly where the hand-computed
    recurrence says, and restarting the same checkpoint with new input
    emits each closed bucket exactly once."""
    from datetime import datetime, timedelta

    from pyspark.sql.types import (
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from chronographer_spark.streaming.drift import (
        cusum_stream_batch_twin,
        start_cusum_stream,
    )

    schema = StructType(
        [StructField("event_type", StringType()), StructField("ts", TimestampType())]
    )
    base = datetime(2024, 1, 1)

    def rows(day_counts, start_day):
        out = []
        for off, n in enumerate(day_counts):
            for i in range(n):
                out.append(("a", base + timedelta(days=start_day + off, minutes=i)))
        return out

    # target 3/day, thr 5: days 0-2 at rate -> S=0; days 3-5 at 6/day ->
    # S = 3, 6, 9 -> alarms once S > 5 (days 4 and 5)
    batch1 = rows([3, 3, 3, 6], 0)
    batch2 = rows([6, 6, 2], 4)  # day 6 (count 2) closes day 5; day 6 stays open

    src = tmp_path / "in"
    src.mkdir()
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = start_cusum_stream(
            spark, str(src), out_dir, ckpt, schema, target=3, thr=5
        )
        q.awaitTermination(120)

    def got():
        return {
            (r["key"], r["bucket_ts"].day, r["n_events"], r["s_scaled"], r["alarm"])
            for r in spark.read.parquet(out_dir).collect()
        }

    def expected(data):
        df = spark.createDataFrame(data, schema)
        return {
            (r["key"], r["bucket_ts"].day, r["n_events"], r["s_scaled"], r["alarm"])
            for r in cusum_stream_batch_twin(df, target=3, thr=5).collect()
        }

    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("append").parquet(
        str(src)
    )
    drain()
    assert got() == expected(batch1)

    spark.createDataFrame(batch2, schema).coalesce(1).write.mode("append").parquet(
        str(src)
    )
    drain()
    full = got()
    assert full == expected(batch1 + batch2)
    # hand-checked recurrence: alarms exactly on the days S reached 6 and 9
    alarms = {(d, s) for (_, d, _, s, a) in full if a == 1}
    assert alarms == {(5, 6), (6, 9)}
    # exactly-once: one row per closed bucket across both drains
    days = sorted(d for (_, d, _, _, _) in full)
    assert days == [1, 2, 3, 4, 5, 6]


def test_snapshot_diff_cdc(spark, tmp_path):
    """CDC between two published versions: added / removed / changed
    classified null-safely (value→NULL counts as changed), unchanged keys
    absent, and both reads pinned to their versions."""
    from chronographer_spark.io.catalog import VersionedCatalog, snapshot_diff

    cat = VersionedCatalog(spark, str(tmp_path))
    v0 = cat.write(
        spark.createDataFrame(
            [("e1", "a", 1), ("e2", "b", 2), ("e3", "c", None), ("e4", "d", 4)],
            "ent string, label string, score int",
        ),
        "entities",
    )
    v1 = cat.write(
        spark.createDataFrame(
            [("e1", "a", 1), ("e2", "B", 2), ("e3", "c", 3), ("e5", "x", 9)],
            "ent string, label string, score int",
        ),
        "entities",
    )
    diff = {
        r["ent"]: (r["status"], r["label_old"], r["label_new"],
                   r["score_old"], r["score_new"])
        for r in snapshot_diff(cat, "entities", ["ent"], v0, v1).collect()
    }
    assert diff == {
        "e2": ("changed", "b", "B", 2, 2),
        "e3": ("changed", "c", "c", None, 3),   # NULL -> value IS a change
        "e4": ("removed", "d", None, 4, None),
        "e5": ("added", None, "x", None, 9),
    }
    assert "e1" not in diff  # unchanged keys absent


def test_partition_checksums_integrity(spark):
    """Checksums are order/partitioning-independent, detect a single
    changed value, and merge additively."""
    from chronographer_spark.io.catalog import partition_checksums

    rows = [("p1", i, f"v{i}") for i in range(20)] + [("p2", 9, "x")]
    df = spark.createDataFrame(rows, "part string, k int, v string")
    a = {r["partition"]: (r["n_rows"], r["checksum"])
         for r in partition_checksums(df, "part").collect()}
    b = {r["partition"]: (r["n_rows"], r["checksum"])
         for r in partition_checksums(df.repartition(7).orderBy("v"), "part").collect()}
    assert a == b
    mutated = spark.createDataFrame(
        [("p1", i, "CHANGED" if i == 5 else f"v{i}") for i in range(20)]
        + [("p2", 9, "x")],
        "part string, k int, v string",
    )
    c = {r["partition"]: (r["n_rows"], r["checksum"])
         for r in partition_checksums(mutated, "part").collect()}
    assert c["p2"] == a["p2"] and c["p1"] != a["p1"]


def test_incremental_ks_stream_matches_batch(spark, tmp_path):
    """Cumulative KS from streamed count fragments equals the batch
    statistic over the full corpus vs the same reference, regardless of
    the file/batch split; fragments are per-batch partitions."""
    from chronographer_spark.operators.temporal import ks_from_counts
    from chronographer_spark.streaming.drift import (
        read_ks_drift,
        start_incremental_ks_stream,
    )

    src = str(tmp_path / "src")
    rows = [(i, float(i % 40)) for i in range(600)]
    df = spark.createDataFrame(rows, "event_id long, value double")
    # three separate files -> three micro-batches (maxFilesPerTrigger=1)
    for part in range(3):
        df.filter(F.col("event_id") % 3 == part).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    reference = spark.createDataFrame(
        [(v, 10) for v in range(25, 65)], "v long, n long"
    )
    frag_dir = str(tmp_path / "frags")
    q = start_incremental_ks_stream(
        spark,
        src,
        frag_dir,
        str(tmp_path / "ckpt"),
        value_expr=F.col("value"),
        schema="event_id long, value double",
    )
    q.awaitTermination(120)

    got = read_ks_drift(spark, frag_dir, reference, n_parts=4).first()

    full = df.select(F.col("value").cast("long").alias("v")).groupBy("v").agg(
        F.count(F.lit(1)).alias("ca")
    )
    cnt = (
        full.join(reference.select("v", F.col("n").alias("cb")), "v", "full_outer")
        .select(
            "v",
            F.coalesce("ca", F.lit(0)).cast("long").alias("ca"),
            F.coalesce("cb", F.lit(0)).cast("long").alias("cb"),
        )
    )
    exp = ks_from_counts(cnt, n_parts=4).first()
    assert (got.n_a, got.n_b, got.d_num, got.ks_x1e6, got.at_value) == (
        exp.n_a, exp.n_b, exp.d_num, exp.ks_x1e6, exp.at_value,
    )
    assert got.n_a == 600 and got.d_num > 0
    # three fragment partitions landed
    import glob as _g

    assert len(_g.glob(f"{frag_dir}/frag=*")) == 3


def test_daily_append_composition(spark, tmp_path):
    """The composed nightly job (pipeline_append.daily_append): day-1
    cold bootstrap, day-2 incremental append (new turns on an existing
    conversation, a brand-new conversation, and a 1-turn isolated
    conversation). After both days the labels table must be BIT-IDENTICAL
    to a cold CC over the full order graph; day-2 must warm-start; a
    re-run of day 2 with the same run_id must be idempotent on
    triples/edges/labels (MERGE semantics, not blind append)."""
    import pyspark.sql.functions as F

    from chronographer_spark.io.catalog import Catalog
    from chronographer_spark.linking.canonicalize import connected_components
    from chronographer_spark.pipeline_append import daily_append, delta_triples

    def tx(rows):
        return spark.createDataFrame(
            [
                (c, t, ["user", "assistant", "tool"][t % 3],
                 f"event login with value {10 + t} recorded on 2024-01-0{1 + t % 7}",
                 "login" if t % 3 == 2 else "", None)
                for c, t in rows
            ],
            "conv_id string, turn_idx int, role string, text string,"
            " tool string, ts timestamp",
        )

    day1 = tx([("convA", t) for t in range(6)] + [("convB", t) for t in range(5)])
    empty = day1.limit(0)
    cat = Catalog(spark, str(tmp_path / "store"))

    s1 = daily_append(cat, day1, empty, "day1", pr_iterations=8, pr_tol=None)
    assert not s1["warm_start"]

    day2 = tx([("convA", 6), ("convA", 7), ("convC", 0), ("convC", 1), ("convD", 0)])
    bridge = tx([("convA", 5)])
    s2 = daily_append(cat, day2, bridge, "day2", pr_iterations=8, pr_tol=None)
    assert s2["warm_start"]
    assert s2["n_label_upserts"] == 5  # 2 convA + 2 convC + 1 isolated convD

    # labels == cold CC over the full order graph
    full_edges = cat.read("triples").filter(
        F.col("predicate") == "ng:nextEvent"
    ).select(F.col("subject").alias("src"), F.col("object").alias("dst"))
    all_nodes = (
        cat.read("event_components").select("node").distinct()
    )
    cold = connected_components(full_edges, all_nodes=all_nodes)
    got = {
        (r["node"], r["component"])
        for r in cat.read("event_components").select("node", "component").collect()
    }
    want = {(r["node"], r["component"]) for r in cold.collect()}
    assert got == want
    assert ("ng:event/convA/7", "ng:event/convA/0") in got  # bridged to history
    assert ("ng:event/convD/0", "ng:event/convD/0") in got  # isolated self-label

    # delta contract: day-2 triples = batch subjects + conv links + bridge edge
    d2 = delta_triples(day2, bridge)
    preds = {(r["subject"], r["predicate"]) for r in d2.collect()}
    assert ("ng:event/convA/5", "ng:event") not in preds
    assert ("ng:event/convA/5", "ng:nextEvent") in preds  # ONLY the bridge edge
    assert not any(s == "ng:event/convA/5" and p != "ng:nextEvent" for s, p in preds)

    # idempotent re-run: same run_id, same content
    before = {
        t: sorted(map(tuple, cat.read(t).drop("lineage_ts").collect()))
        for t in ("triples", "order_edges", "event_components")
    }
    daily_append(cat, day2, bridge, "day2", pr_iterations=8, pr_tol=None)
    after = {
        t: sorted(map(tuple, cat.read(t).drop("lineage_ts").collect()))
        for t in ("triples", "order_edges", "event_components")
    }
    assert before == after


def test_daily_append_default_pagerank_converges(spark, tmp_path):
    """With default arguments a cold day's PageRank stops by its tolerance,
    not by the iteration cap: one 50-turn conversation takes ~50 rounds
    to reach tol 1e-4 (a cap of 20 used to stop it unconverged)."""
    from chronographer_spark.io.catalog import Catalog
    from chronographer_spark.pipeline_append import daily_append

    day = spark.createDataFrame(
        [
            ("conv0", t, ["user", "assistant", "tool"][t % 3],
             f"event login with value {10 + t} recorded on 2024-01-0{1 + t % 7}",
             "login" if t % 3 == 2 else "", None)
            for t in range(50)
        ],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp",
    )
    s = daily_append(Catalog(spark, str(tmp_path)), day, day.limit(0), "day1")
    assert not s["warm_start"]
    assert 20 < s["pr_iterations_run"] < 100


def test_daily_append_resumes_after_midjob_crash(spark, tmp_path):
    """Resumability under PARTIAL failure, not just clean re-run: crash
    the day-2 job after the label/triple/edge MERGEs but before the
    PageRank write (monkeypatched pagerank raises), then re-run the same
    run_id. The healed state must equal a never-crashed day-2 run on
    every table — the MERGE-on-(key, run_id) idempotence is what makes
    the crash window harmless."""
    import pyspark.sql.functions as F  # noqa: F401

    import chronographer_spark.pipeline_append as pa
    from chronographer_spark.io.catalog import Catalog

    def tx(rows):
        return spark.createDataFrame(
            [
                (c, t, ["user", "assistant", "tool"][t % 3],
                 f"event login with value {10 + t} recorded on 2024-01-0{1 + t % 7}",
                 "login" if t % 3 == 2 else "", None)
                for c, t in rows
            ],
            "conv_id string, turn_idx int, role string, text string,"
            " tool string, ts timestamp",
        )

    day1 = tx([("convA", t) for t in range(6)])
    day2 = tx([("convA", 6), ("convB", 0), ("convB", 1)])
    bridge = tx([("convA", 5)])
    empty = day1.limit(0)

    # reference: a never-crashed pair of runs
    ref = Catalog(spark, str(tmp_path / "ref"))
    pa.daily_append(ref, day1, empty, "day1", pr_iterations=6, pr_tol=None)
    pa.daily_append(ref, day2, bridge, "day2", pr_iterations=6, pr_tol=None)

    # crashed run: pagerank raises mid-job on day 2
    cat = Catalog(spark, str(tmp_path / "crash"))
    pa.daily_append(cat, day1, empty, "day1", pr_iterations=6, pr_tol=None)
    real_pr = None
    import chronographer_spark.operators.graph_algos as ga

    real_pr = ga.pagerank

    def boom(*a, **k):
        raise RuntimeError("injected crash before rank write")

    ga.pagerank = boom
    try:
        import pytest as _pytest

        with _pytest.raises(RuntimeError, match="injected crash"):
            pa.daily_append(cat, day2, bridge, "day2", pr_iterations=6, pr_tol=None)
    finally:
        ga.pagerank = real_pr

    # labels/triples/edges landed before the crash; ranks did not
    assert cat.exists("event_components") and cat.exists("triples")
    r1 = {tuple(r) for r in cat.read("event_ranks").select("node").collect()}
    assert ("ng:event/convB/1",) not in r1  # day-2 ranks missing

    # heal: re-run the SAME run_id to completion
    pa.daily_append(cat, day2, bridge, "day2", pr_iterations=6, pr_tol=None)
    for t in ("triples", "order_edges", "event_components"):
        got = sorted(map(tuple, cat.read(t).drop("lineage_ts").collect()))
        want = sorted(map(tuple, ref.read(t).drop("lineage_ts").collect()))
        assert got == want, t
    got_r = sorted(
        map(tuple, cat.read("event_ranks").select("node", "rank").collect())
    )
    want_r = sorted(
        map(tuple, ref.read("event_ranks").select("node", "rank").collect())
    )
    assert got_r == want_r
