"""Temporal joins (as-of / interval / sessionize), IVF ANN, portable simhash,
and the applyInPandasWithState streaming sessionizer."""

import datetime as dt
import time

import pytest
from pyspark.sql import functions as F

TS = dt.datetime


def _events(spark, rows):
    return spark.createDataFrame(rows, ["user_id", "event_id", "ts"])


def test_asof_join_backward_inclusive_and_ties(spark):
    from chronographer_spark.operators.temporal import asof_join

    left = _events(
        spark,
        [
            (1, 10, TS(2024, 1, 1, 12, 0, 0)),
            (1, 11, TS(2024, 1, 1, 13, 0, 0)),
            (2, 20, TS(2024, 1, 1, 9, 0, 0)),  # before any right row -> null
        ],
    )
    right = spark.createDataFrame(
        [
            (1, TS(2024, 1, 1, 11, 0, 0), 100),
            (1, TS(2024, 1, 1, 12, 0, 0), 101),  # equal ts -> inclusive match
            (1, TS(2024, 1, 1, 12, 0, 0), 102),  # tie: max tie_col wins
            (2, TS(2024, 1, 1, 10, 0, 0), 200),
        ],
        ["user_id", "ts", "p_id"],
    )
    out = asof_join(
        left, right, on=["user_id"], ts_col="ts", right_cols=["p_id"], tie_col="p_id"
    )
    got = {r["event_id"]: r["p_id_asof"] for r in out.collect()}
    assert got == {10: 102, 11: 102, 20: None}


def test_asof_join_null_right_column_row_consistent(spark):
    """All *_asof columns must come from the SAME (most recent) right row,
    even when that row holds a legitimate NULL — per-column last() would
    stitch the null column from an older row (ADVICE round 1)."""
    from chronographer_spark.operators.temporal import asof_join

    left = _events(spark, [(1, 10, TS(2024, 1, 1, 12, 30, 0))])
    right = spark.createDataFrame(
        [
            (1, TS(2024, 1, 1, 11, 0, 0), 100, "old"),
            (1, TS(2024, 1, 1, 12, 0, 0), None, "new"),  # matching row: NULL p_id
        ],
        "user_id long, ts timestamp, p_id long, note string",
    )
    out = asof_join(
        left, right, on=["user_id"], ts_col="ts", right_cols=["p_id", "note"]
    ).collect()
    assert len(out) == 1
    row = out[0]
    assert row["note_asof"] == "new"
    assert row["p_id_asof"] is None  # NOT stitched from the older row
    assert row["ts_asof"] == TS(2024, 1, 1, 12, 0, 0)


def test_interval_self_join_matches_naive(spark):
    from chronographer_spark.operators.temporal import interval_self_join

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    got = interval_self_join(
        ev, on=["user_id"], ts_col="ts", id_col="event_id", max_gap_seconds=86400
    )
    sec = F.unix_timestamp("ts")
    a = ev.select("user_id", F.col("event_id").alias("id_a"), sec.alias("sa"))
    b = ev.select("user_id", F.col("event_id").alias("id_b"), sec.alias("sb"))
    naive = (
        a.join(b, "user_id")
        .filter((F.col("sb") > F.col("sa")) & (F.col("sb") <= F.col("sa") + 86400))
        .select("user_id", "id_a", "id_b", (F.col("sb") - F.col("sa")).alias("gap_seconds"))
    )
    got_set = {tuple(r) for r in got.collect()}
    naive_set = {tuple(r) for r in naive.collect()}
    assert got_set == naive_set


def test_sessionize_gap_semantics(spark):
    from chronographer_spark.operators.temporal import sessionize

    ev = _events(
        spark,
        [
            (1, 1, TS(2024, 1, 1, 10, 0, 0)),
            (1, 2, TS(2024, 1, 1, 10, 10, 0)),  # same session (gap 600s)
            (1, 3, TS(2024, 1, 1, 12, 0, 0)),  # new session (gap > 3600)
            (2, 4, TS(2024, 1, 1, 10, 0, 0)),
        ],
    )
    out = sessionize(ev, on=["user_id"], ts_col="ts", tie_col="event_id", gap_seconds=3600)
    got = {r["event_id"]: r["session_seq"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 2, 4: 1}


def test_ivf_topk_self_nearest_and_assignment_total(spark):
    from chronographer_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
        ivf_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    cents = [
        (r["cent_id"], list(r["cent_vec"]))
        for r in ivf_centroids(emb, n_centroids=4).collect()
    ]
    assigned = ivf_assign(emb, sorted(cents))
    # every vector gets exactly one cell, and cells are centroid ids
    assert assigned.count() == n
    cell_ids = {r["cell"] for r in assigned.select("cell").distinct().collect()}
    assert cell_ids <= {c for c, _ in cents}

    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_topk(emb, queries, k=5, n_centroids=4, n_probe=2).collect()
    # a query vector's own cell is always probed first -> rank 1 is itself
    rank1 = {r["query_id"]: r["vec_id"] for r in out if r["rank"] == 1}
    assert rank1 == {0: 0, 1: 1}


def test_simhash_portable_stability_and_locality(spark):
    from chronographer_spark.operators.dedup import simhash_portable

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely different text about spark shuffles"),
        ],
        ["doc_id", "text"],
    )
    sig = {r["doc_id"]: r["simhash"] for r in simhash_portable(docs).collect()}
    assert sig[1] == sig[2]
    assert sig[1] != sig[3]
    assert all(0 <= s < 2**32 for s in sig.values())


def test_streaming_stateful_sessionizer_matches_batch(spark, tmp_path):
    """Closed sessions from the applyInPandasWithState stream equal the batch
    sessionize result for every session except each conversation's open tail."""
    from chronographer_spark.data.transcripts import transcripts_df
    from chronographer_spark.operators.temporal import sessionize
    from chronographer_spark.streaming.stateful import start_session_stream

    tx = transcripts_df(spark, n_convs=8, n_turns=10)
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    tx.write.parquet(in_dir)

    q = start_session_stream(spark, in_dir, out_dir, ckpt, gap_seconds=600)
    q.awaitTermination(120)
    time.sleep(1)

    streamed = spark.read.parquet(out_dir).select(
        "conv_id", "session_seq", "n_turns"
    )

    batch = sessionize(
        tx, on=["conv_id"], ts_col="ts", tie_col="turn_idx", gap_seconds=600
    )
    batch_sessions = batch.groupBy("conv_id", "session_seq").agg(
        F.count("*").alias("n_turns")
    )
    last = batch_sessions.groupBy("conv_id").agg(
        F.max("session_seq").alias("session_seq")
    )
    closed = batch_sessions.join(last, ["conv_id", "session_seq"], "left_anti")

    assert streamed.exceptAll(closed).count() == 0
    assert closed.exceptAll(streamed).count() == 0


def test_streaming_stateful_gap_microsecond_boundary(spark, tmp_path):
    """Gap strictly greater than gap_seconds closes a session; exactly equal
    does not (mirrors batch unix-floor semantics only when ts has no sub-second
    part — this fixture pins whole-second timestamps)."""
    import pandas as pd

    from chronographer_spark.schemas import TRANSCRIPT_SCHEMA
    from chronographer_spark.streaming.stateful import start_session_stream

    rows = [
        ("c1", 0, "user", "a", "", TS(2024, 1, 1, 10, 0, 0)),
        ("c1", 1, "assistant", "b", "", TS(2024, 1, 1, 10, 10, 0)),  # gap == 600 -> same
        ("c1", 2, "user", "c", "", TS(2024, 1, 1, 10, 20, 1)),  # gap 601 -> closes
        ("c1", 3, "user", "d", "", TS(2024, 1, 1, 11, 0, 0)),  # closes again
    ]
    tx = spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]),
        schema=TRANSCRIPT_SCHEMA,
    )
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    tx.write.parquet(in_dir)
    q = start_session_stream(spark, in_dir, out_dir, ckpt, gap_seconds=600)
    q.awaitTermination(120)
    time.sleep(1)
    got = {
        (r["session_seq"], r["n_turns"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == {(1, 2), (2, 1)}


def test_streaming_stateful_idle_timeout_flush(spark, tmp_path):
    """ProcessingTimeTimeout flush: a conversation that goes quiet past the
    idle horizon has its open tail session emitted and its state removed —
    state stays bounded by ACTIVE conversations."""
    from chronographer_spark.schemas import TRANSCRIPT_SCHEMA
    from chronographer_spark.streaming.stateful import start_session_stream

    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    batch1 = spark.createDataFrame(
        [("c1", 0, "user", "hi", "", TS(2024, 1, 1, 12, 0, 0)),
         ("c1", 1, "assistant", "yo", "", TS(2024, 1, 1, 12, 0, 30))],
        schema=TRANSCRIPT_SCHEMA,
    )
    batch1.write.parquet(in_dir)
    q = start_session_stream(
        spark, in_dir, out_dir, ckpt,
        gap_seconds=1800, available_now=False,
        idle_flush_seconds=2, processing_interval="1 second",
    )
    try:
        deadline = time.monotonic() + 60
        rows = []
        while time.monotonic() < deadline:
            time.sleep(3)
            # keep triggering batches: appended part files with unrelated
            # conversation rows make the engine fire timeout checks for c1
            spark.createDataFrame(
                [("c2", 0, "user", "tick", "", TS(2024, 1, 2, 12, 0, 0))],
                schema=TRANSCRIPT_SCHEMA,
            ).write.mode("append").parquet(in_dir)
            try:
                got = spark.read.parquet(out_dir)
                rows = got.filter(got.conv_id == "c1").collect()
            except Exception:
                rows = []
            if rows:
                break
        assert rows, "idle conversation's tail session never flushed"
        r = rows[0]
        assert (r["session_seq"], r["n_turns"]) == (1, 2)
        assert r["begin_ts"] == TS(2024, 1, 1, 12, 0, 0)
        assert r["end_ts"] == TS(2024, 1, 1, 12, 0, 30)
    finally:
        q.stop()


def test_connected_components_precontract_agrees(spark):
    """CC with and without per-partition precontraction produces identical
    components on a mixed graph: two chains, a hub star (the skew shape),
    and an isolated node."""
    from chronographer_spark.linking.canonicalize import connected_components

    edges = [(i, i + 1) for i in range(1, 6)]          # chain 1..6
    edges += [(10, 11), (11, 12)]                      # chain 10..12
    edges += [(100, k) for k in range(101, 121)]       # hub star
    e = spark.createDataFrame(edges, ["src", "dst"])
    nodes = spark.createDataFrame([(n,) for n in {0, *range(1, 7), 10, 11, 12, 100, *range(101, 121)}], ["node"])

    outs = {}
    for pre in (False, True):
        cc = connected_components(e, all_nodes=nodes, precontract=pre)
        outs[pre] = {(r["node"], r["component"]) for r in cc.collect()}
    assert outs[False] == outs[True], "precontraction changed the components"
    comp = dict(outs[False])
    assert comp[6] == 1 and comp[12] == 10 and comp[120] == 100 and comp[0] == 0


def test_connected_components_job_count(spark):
    """Spark jobs of one CC call on a fixed chain fixture (8 chains of 32
    nodes over 4 partitions), counted per job group. Each star round is
    one checkpoint whose fingerprint is observed on the way; the count is
    pinned so an extra action per round shows up here."""
    import uuid

    from chronographer_spark.linking.canonicalize import connected_components

    sc = spark.sparkContext
    edges = [(c * 100 + i, c * 100 + i + 1) for c in range(8) for i in range(31)]
    e = spark.createDataFrame(sc.parallelize(edges, 4), "src long, dst long")
    jobs = {}
    for pre in (False, True):
        group = f"cc-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "connected_components")
        try:
            got = {
                (r["node"], r["component"])
                for r in connected_components(e, precontract=pre).collect()
            }
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert got == {(c * 100 + i, c * 100) for c in range(8) for i in range(32)}
        jobs[pre] = len(sc.statusTracker().getJobIdsForGroup(group))
    # measured at local[4], 8 shuffle partitions (the session fixture)
    assert jobs == {False: 37, True: 17}


def test_streaming_stateful_checkpoint_recovery(spark, tmp_path):
    """Keyed state survives a stream restart: run availableNow over batch 1,
    stop, add batch 2 files, restart with the SAME checkpoint — a session
    spanning the restart is only closed once its gap arrives in batch 2,
    proving state (not re-read input) carried the open tail across runs."""
    import pandas as pd

    from chronographer_spark.schemas import TRANSCRIPT_SCHEMA
    from chronographer_spark.streaming.stateful import start_session_stream

    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )

    def write_batch(rows, fname):
        pdf = pd.DataFrame(
            rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        )
        spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    # batch 1: two turns 10 min apart (gap 600 not exceeded -> stays open)
    write_batch(
        [
            ("c1", 0, "user", "a", "", TS(2024, 1, 1, 10, 0, 0)),
            ("c1", 1, "assistant", "b", "", TS(2024, 1, 1, 10, 10, 0)),
        ],
        "b1",
    )
    q = start_session_stream(spark, in_dir, out_dir, ckpt, gap_seconds=600)
    q.awaitTermination(120)
    time.sleep(1)
    assert spark.read.parquet(out_dir).count() == 0  # nothing closed yet

    # batch 2: a turn 1h later closes the open session from batch 1
    write_batch([("c1", 2, "user", "c", "", TS(2024, 1, 1, 11, 30, 0))], "b2")
    q = start_session_stream(spark, in_dir, out_dir, ckpt, gap_seconds=600)
    q.awaitTermination(120)
    time.sleep(1)
    got = [
        (r["session_seq"], r["n_turns"])
        for r in spark.read.parquet(out_dir).collect()
    ]
    # the closed session has BOTH batch-1 turns -> state crossed the restart
    assert got == [(1, 2)]


def test_ng_usage_queries_patterns(spark):
    """Graph-pattern queries over a hand-built NG (reference
    experiments_run/usage_ng/sparql_queries.py shapes)."""
    from chronographer_spark.graph.ng_queries import (
        actor_interaction,
        events_in_period,
        events_of_actor,
        node_star,
        sub_events_with_times,
        typed_events,
    )

    rows = [
        ("e1", "rdf:type", "sem:Event"),
        ("e2", "rdf:type", "sem:Event"),
        ("e1", "sem:subEventOf", "c1"),
        ("e2", "sem:subEventOf", "c1"),
        ("e1", "sem:hasBeginTimeStamp", "2024-01-05"),
        ("e1", "sem:hasEndTimeStamp", "2024-01-07"),
        ("e2", "sem:hasBeginTimeStamp", "2024-02-01"),
        ("e1", "sem:hasActor", "ng:actor/user"),
        ("e2", "sem:hasActor", "ng:actor/tool"),
    ]
    g = spark.createDataFrame(rows, ["subject", "predicate", "object"])

    sub = {tuple(r) for r in sub_events_with_times(g).collect()}
    # e2 has no end -> end falls back to begin
    assert sub == {
        ("c1", "e1", "2024-01-05", "2024-01-07"),
        ("c1", "e2", "2024-02-01", "2024-02-01"),
    }

    win = {r["event"] for r in events_in_period(g, "2024-01-01", "2024-01-31").collect()}
    assert win == {"e1"}

    act = {r["event"] for r in events_of_actor(g, "ng:actor/user").collect()}
    assert act == {"e1"}

    inter = actor_interaction(g, "ng:actor/user", "ng:actor/tool").collect()
    assert [(r["container"], r["n_actor1"], r["n_actor2"]) for r in inter] == [
        ("c1", 1, 1)
    ]

    star = node_star(g, "e1")
    assert star.count() == 5  # e1 appears in 5 triples (all as subject)
    assert typed_events(g).count() == 2


def test_streaming_windowed_counts_with_watermark(spark, tmp_path):
    """Watermarked tumbling-window counts: run 1 emits only windows the
    watermark has passed; a too-late row in run 2 is dropped."""
    import pandas as pd

    from chronographer_spark.schemas import TRANSCRIPT_SCHEMA
    from chronographer_spark.streaming.ingest import start_windowed_counts_stream

    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )

    def write_batch(rows):
        pdf = pd.DataFrame(
            rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        )
        spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    # two turns in the 10:00 window, one at 12:05 advancing the watermark to
    # 11:35 (> 11:00) so the 10:00 window finalizes; 12:00 stays open
    write_batch(
        [
            ("c1", 0, "user", "a", "", TS(2024, 1, 1, 10, 5, 0)),
            ("c1", 1, "assistant", "b", "", TS(2024, 1, 1, 10, 40, 0)),
            ("c1", 2, "user", "c", "", TS(2024, 1, 1, 12, 5, 0)),
        ]
    )
    q = start_windowed_counts_stream(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(120)
    time.sleep(1)
    got = {
        (r["window_start"].hour, r["conv_id"], r["n_turns"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == {(10, "c1", 2)}

    # run 2: a row at 10:50 is behind the checkpointed watermark (11:35) and
    # its window is already finalized -> dropped, not re-emitted
    write_batch([("c1", 3, "user", "late", "", TS(2024, 1, 1, 10, 50, 0))])
    q = start_windowed_counts_stream(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(120)
    time.sleep(1)
    got2 = {
        (r["window_start"].hour, r["conv_id"], r["n_turns"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got2 == {(10, "c1", 2)}  # unchanged: late data dropped


def test_np_chunks_heads(spark):
    from chronographer_spark.operators.text import np_chunks

    docs = spark.createDataFrame(
        [(1, "met Marie Curie in Paris with Pierre"), (2, "no caps here")],
        ["doc_id", "text"],
    )
    got = {(r["chunk"], r["head"], r["n_words"]) for r in np_chunks(docs).collect()}
    assert got == {("Marie Curie", "Curie", 2), ("Paris", "Paris", 1), ("Pierre", "Pierre", 1)}


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stateful stream-stream interval join over two file streams equals the
    batch interval-join semantics on the same rows."""
    import pandas as pd

    from chronographer_spark.schemas import TRANSCRIPT_SCHEMA
    from chronographer_spark.streaming.joins import start_click_purchase_join_stream

    left_rows = [
        ("c1", 0, "user", "q1", "", TS(2024, 1, 1, 10, 0, 0)),
        ("c1", 1, "user", "q2", "", TS(2024, 1, 1, 11, 0, 0)),
        ("c2", 0, "user", "q3", "", TS(2024, 1, 1, 10, 0, 0)),
    ]
    right_rows = [
        ("c1", 10, "tool", "a1", "search", TS(2024, 1, 1, 10, 5, 0)),  # joins q1 (300s)
        ("c1", 11, "tool", "a2", "search", TS(2024, 1, 1, 11, 20, 0)),  # > 600s, no join
        ("c2", 12, "tool", "a3", "fetch", TS(2024, 1, 1, 10, 9, 0)),  # joins q3 (540s)
    ]

    def write(rows, d):
        pdf = pd.DataFrame(
            rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        )
        spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA).coalesce(1).write.parquet(d)

    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    write(left_rows, ldir)
    write(right_rows, rdir)

    q = start_click_purchase_join_stream(
        spark, ldir, rdir, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        TRANSCRIPT_SCHEMA, max_gap_seconds=600,
    )
    q.awaitTermination(120)
    time.sleep(1)
    got = {
        (r["conv_id"], r["l_text"], r["r_text"], r["gap_seconds"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert got == {("c1", "q1", "a1", 300), ("c2", "q3", "a3", 540)}


def test_operators_on_empty_inputs(spark):
    """Empty-input totality: core operators return empty results with the
    right schema instead of raising (the reference's empty-frontier edge
    case, SURVEY.md §7.4.6, generalized)."""
    from chronographer_spark.linking.canonicalize import connected_components
    from chronographer_spark.operators.dedup import minhash_lsh_candidates
    from chronographer_spark.operators.temporal import (
        asof_join,
        interval_self_join,
        sessionize,
    )

    empty_ev = spark.createDataFrame([], "user_id long, event_id long, ts timestamp")
    assert sessionize(empty_ev, on=["user_id"]).count() == 0
    assert interval_self_join(empty_ev, on=["user_id"]).count() == 0

    left = spark.createDataFrame(
        [(1, 1, dt.datetime(2024, 1, 1))], ["user_id", "event_id", "ts"]
    )
    empty_right = spark.createDataFrame([], "user_id long, ts timestamp, p_id long")
    out = asof_join(left, empty_right, on=["user_id"], right_cols=["p_id"])
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["p_id_asof"] is None

    empty_edges = spark.createDataFrame([], "src long, dst long")
    nodes = spark.createDataFrame([(7,)], ["node"])
    cc = connected_components(empty_edges, all_nodes=nodes).collect()
    assert [(r["node"], r["component"]) for r in cc] == [(7, 7)]

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert minhash_lsh_candidates(empty_docs).count() == 0


def test_bgp_matcher_semantics(spark):
    """Declarative BGP compiler: shared-variable joins, repeated variable
    within a pattern, OPTIONAL left join, VALUES restriction, and
    agreement with the hand-written ng_queries plan."""
    from chronographer_spark.graph.bgp import bgp
    from chronographer_spark.graph.ng_queries import sub_events_with_times

    triples = spark.createDataFrame(
        [
            ("e1", "sem:subEventOf", "c1"),
            ("e2", "sem:subEventOf", "c1"),
            ("e1", "sem:hasBeginTimeStamp", "2024-01-01"),
            ("e2", "sem:hasBeginTimeStamp", "2024-01-02"),
            ("e1", "sem:hasEndTimeStamp", "2024-01-05"),
            ("e1", "sem:hasActor", "alice"),
            ("e2", "sem:hasActor", "bob"),
            ("x", "p:self", "x"),
            ("x", "p:self", "y"),
        ],
        ["subject", "predicate", "object"],
    )
    # shared-variable join + OPTIONAL, vs the hand-written query
    got = bgp(
        triples,
        patterns=[
            ("?sub_event", "sem:subEventOf", "?event"),
            ("?sub_event", "sem:hasBeginTimeStamp", "?begin"),
        ],
        optional=[[("?sub_event", "sem:hasEndTimeStamp", "?end")]],
    ).select(
        "event", "sub_event", "begin",
        F.coalesce("end", "begin").alias("end"),
    )
    hand = sub_events_with_times(triples)
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in hand.collect()}

    # repeated variable within one pattern: only the (x p x) row matches
    loops = bgp(triples, patterns=[("?n", "p:self", "?n")]).collect()
    assert [r["n"] for r in loops] == ["x"]

    # VALUES restriction
    ev = bgp(
        triples,
        patterns=[("?e", "sem:hasActor", "?a")],
        values={"a": ["alice"]},
    ).collect()
    assert [(r["e"], r["a"]) for r in ev] == [("e1", "alice")]

    # disjoint patterns cross-join (SPARQL cartesian semantics) — warned
    with pytest.warns(UserWarning, match="no shared"):
        cross = bgp(
            triples,
            patterns=[("?e", "sem:hasActor", "?a"), ("?n", "p:self", "?n")],
        )
    assert cross.count() == 2  # 2 actors x 1 self-loop


def test_bgp_property_paths(spark):
    """SPARQL property paths on constant predicates: p+ closure, ^p
    inverse, p|q alternation, and the ^p+ / p|q+ compositions."""
    from chronographer_spark.graph.bgp import bgp

    triples = spark.createDataFrame(
        [
            ("a", "up", "b"), ("b", "up", "c"), ("c", "up", "d"),
            ("a", "alt", "z"),
            ("d", "in", "N1"),
        ],
        ["subject", "predicate", "object"],
    )
    plus = {
        (r["x"], r["y"])
        for r in bgp(triples, patterns=[("?x", "up+", "?y")]).collect()
    }
    assert plus == {
        ("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d"),
    }
    # path joined with a plain pattern: transitive ancestors in N1
    rooted = {
        r["x"]
        for r in bgp(
            triples,
            patterns=[("?x", "up+", "?r"), ("?r", "in", "N1")],
        ).collect()
    }
    assert rooted == {"a", "b", "c"}
    inv = {
        (r["x"], r["y"])
        for r in bgp(triples, patterns=[("?x", "^up", "?y")]).collect()
    }
    assert inv == {("b", "a"), ("c", "b"), ("d", "c")}
    alt = {
        (r["x"], r["y"])
        for r in bgp(triples, patterns=[("?x", "up|alt", "?y")]).collect()
    }
    assert alt == {("a", "b"), ("b", "c"), ("c", "d"), ("a", "z")}
    inv_plus = {
        (r["x"], r["y"])
        for r in bgp(triples, patterns=[("?x", "^up+", "?y")]).collect()
    }
    assert inv_plus == {(b, a) for a, b in plus}
    alt_plus = {
        (r["x"], r["y"])
        for r in bgp(triples, patterns=[("?x", "up|alt+", "?y")]).collect()
    }
    assert ("a", "z") in alt_plus and ("a", "d") in alt_plus


def test_bgp_selectivity_ordering_and_product_guard(spark, tmp_path):
    """(1) _order_patterns puts the most-bound pattern first and keeps
    every later join connected; (2) the compiled plan starts from the
    selective scan even when the user lists the unselective pattern first;
    (3) result sets are identical under any user order; (4) a big×big
    disconnected product raises, a small-side product only warns."""
    from chronographer_spark.graph.bgp import _order_patterns, bgp

    unselective = ("?s", "?p", "?o")
    mid = ("?s", "sem:hasActor", "?a")
    selective = ("?a", "sem:knows", "bob")
    assert _order_patterns([unselective, mid, selective]) == [
        selective,  # 2 constants incl. predicate
        mid,        # connected via ?a, 1 constant
        unselective,  # connected via ?s
    ]
    # connectivity beats raw score: after ("?x", "p:a", "c"), the connected
    # 1-constant pattern is picked before a disconnected 2-constant one
    assert _order_patterns(
        [("?y", "p:b", "d"), ("?x", "p:a", "c"), ("?y", "p:c", "?z")]
    )[1] == ("?y", "p:c", "?z")

    # file-backed so Catalyst has REAL size statistics (the guard treats
    # stat-less local relations as unknown and never refuses those)
    spark.createDataFrame(
        [
            ("e1", "sem:hasActor", "alice"),
            ("e2", "sem:hasActor", "bob"),
            ("alice", "sem:knows", "bob"),
            ("e1", "rdf:type", "sem:Event"),
            ("e2", "rdf:type", "sem:Event"),
        ],
        ["subject", "predicate", "object"],
    ).write.parquet(str(tmp_path / "triples"))
    triples = spark.read.parquet(str(tmp_path / "triples"))
    # user lists the full-scan pattern first; the compiled join tree must
    # still be driven by the selective constant-object scan
    df = bgp(triples, patterns=[unselective, mid, selective])
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.index("sem:knows") < analyzed.index("hasActor"), analyzed
    rows = {tuple(sorted(r.asDict().items())) for r in df.collect()}
    df2 = bgp(triples, patterns=[selective, mid, unselective])
    rows2 = {tuple(sorted(r.asDict().items())) for r in df2.collect()}
    assert rows == rows2 and len(rows) > 0

    # guard: both sides over the byte threshold -> refuse the product
    with pytest.raises(ValueError, match="product_guard_bytes"):
        bgp(
            triples,
            patterns=[("?e", "sem:hasActor", "?a"), ("?x", "rdf:type", "?t")],
            product_guard_bytes=0,
        )
    # a small side squeaks under the default guard: warn only
    with pytest.warns(UserWarning, match="cross product"):
        small = bgp(
            triples,
            patterns=[("?e", "sem:hasActor", "?a"), ("?x", "rdf:type", "?t")],
        )
    assert small.count() == 4


def test_sessionizer_seq_resets_after_flush_but_session_key_unique():
    """Eviction contract: an idle flush drops the key's state, so a resumed
    conversation restarts session_seq at 1 — but `session_key`
    (conv_id#begin_us) stays collision-free across the flush because
    sessions are disjoint time ranges. Driven at the _sessionize_group
    level with a fake GroupState (deterministic, no wall clock)."""
    import pandas as pd

    from chronographer_spark.streaming.stateful import _sessionize_group

    class FakeState:
        def __init__(self):
            self._v = None
            self.hasTimedOut = False

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)

        def remove(self):
            self._v = None

        def setTimeoutDuration(self, ms):
            pass

    st = FakeState()
    key = ("c1",)

    def batch(ts_list):
        return iter([pd.DataFrame({
            "conv_id": ["c1"] * len(ts_list),
            "turn_idx": list(range(len(ts_list))),
            "ts": pd.to_datetime(ts_list),
        })])

    # batch 1: two turns, session stays open in state
    out1 = pd.concat(list(_sessionize_group(
        key, batch(["2024-01-01 12:00:00", "2024-01-01 12:00:30"]), st,
        gap_seconds=1800, idle_flush_seconds=5,
    )))
    assert len(out1) == 0 and st.exists

    # idle timeout fires: tail session flushed, state removed
    st.hasTimedOut = True
    flushed = pd.concat(list(_sessionize_group(
        key, iter([]), st, gap_seconds=1800, idle_flush_seconds=5,
    )))
    st.hasTimedOut = False
    assert len(flushed) == 1 and not st.exists
    assert flushed.iloc[0]["session_seq"] == 1

    # conversation resumes much later: seq restarts at 1 (documented reset)
    out2 = pd.concat(list(_sessionize_group(
        key, batch(["2024-01-02 09:00:00", "2024-01-02 11:00:00"]), st,
        gap_seconds=1800, idle_flush_seconds=5,
    )))
    # the 2h gap closes the first resumed session within the batch
    assert len(out2) == 1
    assert out2.iloc[0]["session_seq"] == 1  # seq DID reset
    # but the stable identity does not collide across the flush
    assert out2.iloc[0]["session_key"] != flushed.iloc[0]["session_key"]
    assert flushed.iloc[0]["session_key"].startswith("c1#")


def test_allen_relations_all_seven_labels(spark):
    """One key exercising every reachable relation under the canonical
    (begin, end, id) pair ordering; pair direction is pinned by the ordering
    (e.g. [0,10] sorts before [0,20] -> 'starts', never 'started_by')."""
    from chronographer_spark.operators.temporal import allen_relations

    rows = [
        # (key, id, begin, end)
        ("k", "a", 0, 10),
        ("k", "b", 0, 10),    # equals a
        ("k", "c", 0, 20),    # a starts c
        ("k", "d", 12, 15),   # a before d; c contains d
        ("k", "e", 10, 12),   # a meets e; e meets d
        ("k", "f", 15, 25),   # c overlaps f; d meets f
        ("k", "g", 18, 20),   # c finished_by g (shared end, c begins first)
    ]
    df = spark.createDataFrame(rows, ["key", "event_id", "begin", "end"])
    out = {
        (r.id_a, r.id_b): r.relation
        for r in allen_relations(df, on=["key"]).collect()
    }
    assert out[("a", "b")] == "equals"
    assert out[("a", "c")] == "starts"
    assert out[("a", "d")] == "before"
    assert out[("a", "e")] == "meets"
    assert out[("c", "d")] == "contains"
    assert out[("c", "f")] == "overlaps"
    assert out[("c", "g")] == "finished_by"
    assert len(out) == 21  # all pairs on the key, each exactly once


def test_burst_buckets_hand_values(spark):
    """u1: 6 events in hour A, 1 in each of hours B,C -> A is a burst
    (6*3 > 2*8); u2 uniform -> nothing flagged; integer cross-multiply
    exactly at the boundary is NOT flagged (strict >)."""
    from pyspark.sql import functions as F

    from chronographer_spark.operators.temporal import burst_buckets

    rows = (
        [(1, f"2024-01-01 00:{m:02d}:00") for m in range(6)]
        + [(1, "2024-01-01 01:00:00"), (1, "2024-01-01 02:00:00")]
        + [(2, "2024-01-01 00:00:00"), (2, "2024-01-01 01:00:00")]
        # u3: 2 buckets with counts 2 and 1 -> 2*2 > 2*3 false; 2*2=4 < 6
        + [(3, "2024-01-01 00:00:00"), (3, "2024-01-01 00:30:00"),
           (3, "2024-01-01 01:00:00")]
    )
    ev = spark.createDataFrame(rows, ["user_id", "ts"]).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    got = [
        (r.user_id, str(r.bucket_ts), r.n_events, r.total_events, r.n_buckets)
        for r in burst_buckets(ev, factor=2).collect()
    ]
    assert got == [(1, "2024-01-01 00:00:00", 6, 8, 3)]


def test_streaming_conversation_metrics_matches_batch(spark, tmp_path):
    """Latest snapshot per conversation from the incremental stream equals
    the batch conversation_metrics, with state carried across micro-batches
    (one file per trigger; files split by turn ranges)."""
    import time

    from chronographer_spark.data.transcripts import transcripts_df
    from chronographer_spark.operators.dialogue import conversation_metrics
    from chronographer_spark.streaming.dialogue import start_metrics_stream

    tx = transcripts_df(spark, n_convs=8, n_turns=10).cache()
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt"),
    )
    # append-ordered arrival: early turns land in file 1, late turns file 2
    tx.filter(F.col("turn_idx") < 5).coalesce(1).write.parquet(f"{in_dir}/b1")
    tx.filter(F.col("turn_idx") >= 5).coalesce(1).write.parquet(f"{in_dir}/b2")

    q = start_metrics_stream(spark, f"{in_dir}/b*", out_dir, ckpt, long_gap_s=90)
    q.awaitTermination(120)
    time.sleep(1)

    snaps = spark.read.parquet(out_dir)
    latest = snaps.groupBy("conv_id").agg(F.max("n_turns").alias("n_turns")).join(
        snaps, ["conv_id", "n_turns"]
    )
    batch = conversation_metrics(tx, long_gap_s=90)
    cols = ["conv_id", "n_turns", "n_tool_turns", "n_role_switches",
            "duration_us", "sum_gap_us", "max_gap_us", "n_long_gaps"]
    got = {tuple(r) for r in latest.select(*cols).collect()}
    exp = {tuple(r) for r in batch.select(*cols).collect()}
    assert got == exp
    # state genuinely carried over: conversations got >1 snapshot
    multi = snaps.groupBy("conv_id").count().filter(F.col("count") > 1).count()
    assert multi > 0


def test_round3_late_operators_on_empty_inputs(spark):
    """Empty-input totality for the dialogue/fuzzy/walk family."""
    from chronographer_spark.linking.fuzzy import (
        ed1_pairs,
        mutual_best_trigram_match,
    )
    from chronographer_spark.operators.dialogue import (
        comention_graph,
        conversation_metrics,
        tool_transitions,
        topic_boundaries,
    )
    from chronographer_spark.operators.graph_algos import (
        random_walks,
        walk_skipgrams,
    )
    from chronographer_spark.operators.temporal import burst_buckets

    empty_tx = spark.createDataFrame(
        [], "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp"
    )
    assert conversation_metrics(empty_tx).count() == 0
    assert tool_transitions(empty_tx).count() == 0
    assert topic_boundaries(empty_tx).count() == 0

    empty_v = spark.createDataFrame([], "tok string")
    assert ed1_pairs(empty_v).count() == 0
    one = spark.createDataFrame([("night",)], ["tok"])
    assert mutual_best_trigram_match(empty_v, one).count() == 0
    assert mutual_best_trigram_match(one, empty_v).count() == 0

    empty_e = spark.createDataFrame([], "src string, dst string")
    walks = random_walks(empty_e, n_steps=2)
    assert walks.count() == 0
    assert walk_skipgrams(walks).count() == 0

    empty_ev = spark.createDataFrame([], "user_id long, ts timestamp")
    assert burst_buckets(empty_ev).count() == 0

    empty_m = spark.createDataFrame([], "conv_id string, mention string")
    assert comention_graph(empty_m).count() == 0


def test_streaming_conversation_metrics_restart_state_recovery(spark, tmp_path):
    """Stopping the metrics stream and restarting from its checkpoint after
    new turns arrive resumes from the persisted per-conversation state: the
    post-restart latest snapshot equals the batch operator over ALL turns,
    and the first half's turns are not re-counted."""
    import os
    import time

    from chronographer_spark.data.transcripts import transcripts_df
    from chronographer_spark.operators.dialogue import conversation_metrics
    from chronographer_spark.streaming.dialogue import start_metrics_stream

    tx = transcripts_df(spark, n_convs=6, n_turns=10).cache()
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt"),
    )
    os.makedirs(in_dir)
    tx.filter(F.col("turn_idx") < 5).coalesce(1).write.parquet(f"{in_dir}/b1")
    q = start_metrics_stream(spark, in_dir + "/b*", out_dir, ckpt, long_gap_s=90)
    q.awaitTermination(120)
    time.sleep(1)

    tx.filter(F.col("turn_idx") >= 5).coalesce(1).write.parquet(f"{in_dir}/b2")
    q2 = start_metrics_stream(spark, in_dir + "/b*", out_dir, ckpt, long_gap_s=90)
    q2.awaitTermination(120)
    time.sleep(1)

    snaps = spark.read.parquet(out_dir)
    latest = snaps.groupBy("conv_id").agg(F.max("n_turns").alias("n_turns")).join(
        snaps, ["conv_id", "n_turns"]
    )
    cols = ["conv_id", "n_turns", "n_tool_turns", "n_role_switches",
            "duration_us", "sum_gap_us", "max_gap_us", "n_long_gaps"]
    got = {tuple(r) for r in latest.select(*cols).collect()}
    exp = {tuple(r) for r in conversation_metrics(tx, long_gap_s=90).select(*cols).collect()}
    assert got == exp


def test_scd2_compact_hand_fixture(spark):
    """Runs collapse, intervals tile the timeline half-open, the current
    run stays open, a value REVISITED later opens a NEW interval, and
    null values form their own runs (null-safe compare)."""
    from datetime import datetime

    from chronographer_spark.operators.temporal import scd2_compact

    t = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        ("e1", "a", t(0), 1, 10),
        ("e1", "a", t(1), 2, 10),   # same value: same run
        ("e1", "a", t(2), 3, 20),   # change
        ("e1", "a", t(3), 4, 10),   # back to 10: NEW interval
        ("e1", "a", t(4), 5, None), # null run
        ("e1", "a", t(5), 6, None),
        ("e2", "a", t(0), 7, 99),   # other entity independent
    ]
    df = spark.createDataFrame(
        rows, "ent string, attr string, ts timestamp, event_id long, v long"
    )
    got = {
        (r["ent"], r["value"], r["valid_from"].minute): (
            r["valid_to"].minute if r["valid_to"] else None,
            r["n_obs"],
        )
        for r in scd2_compact(
            df, keys=["ent", "attr"], value_col="v", tiebreak="event_id"
        ).collect()
    }
    assert got == {
        ("e1", 10, 0): (2, 2),
        ("e1", 20, 2): (3, 1),
        ("e1", 10, 3): (4, 1),
        ("e1", None, 4): (None, 2),
        ("e2", 99, 0): (None, 1),
    }
