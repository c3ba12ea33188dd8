"""Search-core operators pinned to the reference's own test goldens
(reference: src/tests/test_ranker.py, src/tests/test_filtering.py) plus an
end-to-end iterative search + checkpoint/resume test on a synthetic KG."""

import shutil

import pytest
from pyspark.sql import functions as F

from chronographer_spark.operators.filtering import (
    FilteringConfig,
    discard_by_date,
    discard_by_entity_type,
    discard_by_regex,
)
from chronographer_spark.operators.ranking import rank_top1

EX = "http://example.org/"

DBO_DATE = "http://dbpedia.org/ontology/date"
DBO_START = "http://dbpedia.org/ontology/startDate"
DBP_BIRTH = "http://dbpedia.org/property/birthDate"
DBO_END = "http://dbpedia.org/ontology/endDate"
DBP_DEATH = "http://dbpedia.org/property/deathDate"

CFG = FilteringConfig(
    point_in_time=[DBO_DATE],
    start_dates=[DBO_START, DBP_BIRTH],
    end_dates=[DBO_END, DBP_DEATH],
    places=["http://dbpedia.org/ontology/Place", "http://dbpedia.org/ontology/Location"],
    people=["http://dbpedia.org/ontology/Person"],
    dataset_type="dbpedia",
)


def test_discard_by_date_reference_golden(spark):
    """Exact fixture from reference test_filtering.py:43-75."""
    preds = (
        [DBO_DATE] * 5 + [DBO_START] * 3 + [DBO_END] * 3
        + [DBP_BIRTH] * 3 + [DBP_DEATH] * 3 + ["test_predicate_1", "test_predicate_2"]
    )
    objs = (
        ["1795-03-08", "1788-01-01", "1815-12-31", "1789-01-01", "1804-12-31"]
        + ["1795-03-08", "1815-12-31", "1804-12-31"]
        + ["1795-03-08", "1788-01-01", "1789-01-01"]
        + ["1795-03-08", "1815-12-31", "1804-12-31"]
        + ["1795-03-08", "1788-01-01", "1789-01-01"]
        + ["1788-01-01", "1815-12-31"]
    )
    subs = (
        [f"date{i}" for i in range(1, 6)]
        + [f"startDate{i}" for i in range(1, 4)]
        + [f"endDate{i}" for i in range(1, 4)]
        + [f"birthDate{i}" for i in range(1, 4)]
        + [f"deathDate{i}" for i in range(1, 4)]
        + ["random1", "random2"]
    )
    df = spark.createDataFrame(
        list(zip(subs, preds, objs)), ["subject", "predicate", "object"]
    )
    got = {
        r.node
        for r in discard_by_date(df, CFG, ("1789-01-01", "1804-12-31")).collect()
    }
    assert got == {"date2", "date3", "startDate2", "endDate2", "birthDate2", "deathDate2"}


def test_discard_by_regex_reference_golden(spark):
    """Exact fixture from reference test_filtering.py:78-105."""
    ingoing = spark.createDataFrame(
        [(s, "p", "o") for s in
         ["1999_legendary", "1795_legendary", "1851_legendary", "legendary"]],
        ["subject", "predicate", "object"],
    )
    outgoing = spark.createDataFrame(
        [("s", "p", o) for o in
         ["1998_legendary", "1794_legendary", "1850_legendary", "legendary"]],
        ["subject", "predicate", "object"],
    )
    got = {
        r.node
        for r in discard_by_regex(ingoing, outgoing, ("1789-01-01", "1804-12-31")).collect()
    }
    assert got == {"1999_legendary", "1851_legendary", "1998_legendary", "1850_legendary"}


def test_discard_by_location_reference_golden(spark):
    """Exact fixture from reference test_filtering.py:108-125."""
    df = spark.createDataFrame(
        [
            ("subject1", "p", "http://dbpedia.org/ontology/Place"),
            ("subject2", "p", "http://dbpedia.org/ontology/Location"),
            ("subject3", "p", "hello"),
            ("subject4", "p", "world"),
        ],
        ["subject", "predicate", "object"],
    )
    got = {r.node for r in discard_by_entity_type(df, CFG.places).collect()}
    assert got == {"subject1", "subject2"}


# --- ranker goldens (reference test_ranker.py: 87 vs 15 counts) --------------

OCC_ROWS = [
    (1, "ingoing", "http://purl.org/dc/terms/subject", "X", 87),
    (1, "ingoing", "http://www.w3.org/2004/02/skos/core#broader", "X", 15),
]
OCC_SCHEMA = "priority int, direction string, predicate string, endpoint string, count long"


@pytest.mark.parametrize(
    "strategy,expected_pred",
    [
        ("pred_freq", "http://purl.org/dc/terms/subject"),
        ("entropy_pred_freq", "http://www.w3.org/2004/02/skos/core#broader"),
        ("inverse_pred_freq", "http://www.w3.org/2004/02/skos/core#broader"),
        ("pred_object_freq", "http://purl.org/dc/terms/subject"),
        ("entropy_pred_object_freq", "http://www.w3.org/2004/02/skos/core#broader"),
        ("inverse_pred_object_freq", "http://www.w3.org/2004/02/skos/core#broader"),
    ],
)
def test_ranker_reference_goldens(spark, strategy, expected_pred):
    occ = spark.createDataFrame(OCC_ROWS, OCC_SCHEMA)
    row = rank_top1(occ, strategy)
    assert row["predicate"] == expected_pred


def test_info_counters_golden(spark):
    """A5 golden (reference src/ordering.py:110-143): total rows, rows with
    a nonempty superclass annotation, rows whose superclasses intersect the
    focus set — three distinct values on a 4-row frame."""
    from chronographer_spark.operators.ordering import (
        annotate_superclass,
        build_pred_closure,
        info_counters,
    )

    pending = spark.createDataFrame(
        [
            ("s1", "p_event", "o1"),   # closure -> [Event]: relevant
            ("s2", "p_event", "o2"),   # relevant
            ("s3", "p_place", "o3"),   # closure -> [Place]: annotated only
            ("s4", "p_none", "o4"),    # no closure entry: total only
        ],
        ["subject", "predicate", "object"],
    )
    pred_classes = spark.createDataFrame(
        [("p_event", ["C1"]), ("p_place", ["C2"])],
        "predicate string, classes array<string>",
    )
    superclasses = spark.createDataFrame(
        [("C1", ["Event"]), ("C2", ["Place"])],
        "class string, ancestors array<string>",
    )
    closure = build_pred_closure(pred_classes, superclasses)
    row = info_counters(
        annotate_superclass(pending, closure), "ingoing", ["Event"]
    ).first()
    assert (row["ingoing"], row["ingoing_annotated"], row["ingoing_relevant"]) == (4, 3, 2)


def test_ranker_band_filter_fallback(spark):
    """Band (1 < v < 200) excludes 300 and 1; falls back when band empty
    (ranker.py:40-51)."""
    occ = spark.createDataFrame(
        [(1, "ingoing", "a", "x", 300), (1, "ingoing", "b", "x", 50),
         (1, "ingoing", "c", "x", 1)],
        OCC_SCHEMA,
    )
    assert rank_top1(occ, "pred_freq")["predicate"] == "b"
    occ2 = spark.createDataFrame(
        [(1, "ingoing", "a", "x", 300), (1, "ingoing", "c", "x", 1)], OCC_SCHEMA
    )
    assert rank_top1(occ2, "pred_freq")["predicate"] == "a"  # fallback: max count


def test_ranker_priority_class_restriction(spark):
    """Priority 1 rows beat priority 3 regardless of counts (ranker.py:31-38)."""
    occ = spark.createDataFrame(
        [(3, "ingoing", "popular", "x", 150), (1, "ingoing", "rare", "x", 2)],
        OCC_SCHEMA,
    )
    assert rank_top1(occ, "pred_freq")["predicate"] == "rare"


def test_pred_closure_arrays_independent_of_partitioning(spark):
    """The superclass arrays are sorted, so the closure is element-wise
    equal whether its input arrives in 1 partition or 4 (it lands in the
    checkpointed pending tables)."""
    from chronographer_spark.operators.ordering import build_pred_closure

    pred_classes = [
        (f"p{i}", [f"c{(i + k) % 12}" for k in range(4)]) for i in range(8)
    ]
    ancestors = [(f"c{j}", [f"a{(j * 5 + k) % 17}" for k in range(3)]) for j in range(12)]

    def closure(n):
        pc = spark.createDataFrame(
            spark.sparkContext.parallelize(pred_classes, n),
            "predicate string, classes array<string>",
        )
        sup = spark.createDataFrame(
            spark.sparkContext.parallelize(ancestors, n),
            "class string, ancestors array<string>",
        )
        rows = build_pred_closure(pc, sup).collect()
        return {r["predicate"]: list(r["superclass"]) for r in rows}

    one, four = closure(1), closure(4)
    assert len(one) == 8
    assert one == four
    assert all(v == sorted(v) for v in one.values())


# --- end-to-end search + resume ----------------------------------------------


def _kg(spark):
    """Synthetic generic KG: seed event with sub-events, a person, a place,
    a temporally-out-of-range event, and a year-named node."""
    t = [
        # sub-events pointing at the seed (ingoing for seed)
        (EX + "Storming", EX + "prop/partof", EX + "FrenchRev"),
        (EX + "Battle1", EX + "prop/partof", EX + "FrenchRev"),
        (EX + "Person1", EX + "prop/commander", EX + "FrenchRev"),
        (EX + "1850_Thing", EX + "prop/partof", EX + "FrenchRev"),
        # seed outgoing
        (EX + "FrenchRev", EX + "prop/location", EX + "Paris"),
        # types & dates (spec. outgoing of neighbors)
        (EX + "Storming", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", EX + "class/MilitaryConflict"),
        (EX + "Storming", DBO_DATE, "1789-07-14"),
        (EX + "Battle1", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", EX + "class/MilitaryConflict"),
        (EX + "Battle1", DBO_DATE, "1820-01-01"),
        (EX + "Person1", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", EX + "class/Person"),
        (EX + "Paris", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", EX + "class/Place"),
        (EX + "1850_Thing", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", EX + "class/MilitaryConflict"),
        # second hop: something pointing at Storming
        (EX + "Vainqueurs", EX + "prop/partof", EX + "Storming"),
        (EX + "Vainqueurs", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", EX + "class/MilitaryConflict"),
        (EX + "Vainqueurs", DBO_DATE, "1789-07-14"),
    ]
    return spark.createDataFrame(t, ["subject", "predicate", "object"])


def _vocab(spark):
    pred_domain = spark.createDataFrame(
        [(EX + "prop/partof", [EX + "class/MilitaryConflict"]),
         (EX + "prop/commander", [EX + "class/Person"])],
        "predicate string, classes array<string>",
    )
    pred_range = spark.createDataFrame(
        [(EX + "prop/location", [EX + "class/Place"]),
         (EX + "prop/partof", [EX + "class/Event"])],
        "predicate string, classes array<string>",
    )
    superclasses = spark.createDataFrame(
        [(EX + "class/MilitaryConflict", [EX + "class/Event"]),
         (EX + "class/Person", [EX + "class/Agent"]),
         (EX + "class/Place", [EX + "class/Location"])],
        "class string, ancestors array<string>",
    )
    return pred_domain, pred_range, superclasses


def _search(spark, ckpt, run_id, iterations=3, cls=None):
    from chronographer_spark.search.driver import GraphSearch, SearchConfig

    pred_domain, pred_range, superclasses = _vocab(spark)
    cfg = SearchConfig(
        start=EX + "FrenchRev",
        iterations=iterations,
        target_types=[EX + "class/Event"],
        type_ranking="entropy_pred_object_freq",
        dates=("1789-01-01", "1800-12-31"),
        max_uri=100,
    )
    filt = FilteringConfig(
        point_in_time=[DBO_DATE],
        start_dates=[DBO_START],
        end_dates=[DBO_END],
        places=[EX + "class/Place"],
        people=[EX + "class/Person"],
        dataset_type="dbpedia",
    )
    return (cls or GraphSearch)(
        spark, _kg(spark), cfg, filt,
        pred_domain=pred_domain, pred_range=pred_range, superclasses=superclasses,
        checkpoint_dir=ckpt, run_id=run_id,
    )


def test_search_finds_admissible_events(spark, tmp_path):
    gs = _search(spark, str(tmp_path), "t1")
    res = gs.run()
    assert res["last_iteration"] >= 1
    state = gs.final_state()
    events = {r.event for r in gs.found_events(state).collect()}
    # admitted: Storming (typed conflict->Event, date in window)
    assert EX + "Storming" in events
    # discarded: Battle1 (date outside), Person1 (who), 1850_Thing (regex),
    # Paris (where)
    sub_subjects = {r.subject for r in state["subgraph"].collect()}
    assert EX + "Battle1" not in sub_subjects
    assert EX + "Person1" not in sub_subjects
    assert EX + "1850_Thing" not in sub_subjects


def test_search_second_hop_reached(spark, tmp_path):
    gs = _search(spark, str(tmp_path), "t2", iterations=4)
    gs.run()
    state = gs.final_state()
    events = {r.event for r in gs.found_events(state).collect()}
    assert EX + "Vainqueurs" in events  # found by expanding Storming


def test_search_resume_reproduces_state(spark, tmp_path):
    ckpt = str(tmp_path)
    gs1 = _search(spark, ckpt, "t3", iterations=3)
    gs1.run()
    final1 = gs1.final_state()
    sub1 = sorted(map(tuple, final1["subgraph"].collect()))
    last = gs1.last_complete_iteration()
    assert last >= 2

    # simulate crash: delete the last iteration, resume from the previous one
    shutil.rmtree(gs1._iter_dir(last))
    gs2 = _search(spark, ckpt, "t3", iterations=3)
    assert gs2.last_complete_iteration() == last - 1
    gs2.run(resume=True)
    final2 = gs2.final_state()
    sub2 = sorted(map(tuple, final2["subgraph"].collect()))
    assert sub1 == sub2  # byte-identical state after resume


def test_checkpoint_lineage_columns(spark, tmp_path):
    gs = _search(spark, str(tmp_path), "t4", iterations=2)
    gs.run()
    last = gs.last_complete_iteration()
    df = spark.read.parquet(f"{gs._iter_dir(last)}/subgraph")
    assert {"lineage_run_id", "lineage_iteration"} <= set(df.columns)
    assert df.filter(F.col("lineage_run_id") != "t4").count() == 0


# --- job economy: jobs per iteration, observed row counts, no cache growth --

# A steady-state iteration (expansion, filtering, ranking, five checkpoint
# writes, reload) spends 21 jobs on this KG; it spent ~100 when every
# consumer re-executed the lazy lineage. Raise only with a reason.
ITERATION_JOB_BUDGET = 24


@pytest.fixture(scope="module")
def economy_run(spark, tmp_path_factory):
    """One 4-iteration search whose iteration N runs its jobs (its
    checkpoint write and reload included) in job group f"{prefix}-{N}", and
    which records the cached plans / persisted RDDs held when each
    iteration starts (the previous one is written and released by then)."""
    import uuid

    from chronographer_spark.search.driver import GraphSearch

    prefix = f"search-jobs-{uuid.uuid4().hex}"
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    jsc = spark.sparkContext._jsc
    held = {}

    class Recorded(GraphSearch):
        def run_one_iteration(self, iteration, state):
            held[iteration] = (
                cache_manager.numCachedEntries(),
                jsc.getPersistentRDDs().size(),
            )
            self.spark.sparkContext.setJobGroup(f"{prefix}-{iteration}", "search iteration")
            return super().run_one_iteration(iteration, state)

    ckpt = str(tmp_path_factory.mktemp("economy"))
    gs = _search(spark, ckpt, "economy", iterations=4, cls=Recorded)
    try:
        gs.run()
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert gs.last_complete_iteration() == 4
    return gs, prefix, held


def test_search_iteration_job_budget(spark, economy_run):
    _, prefix, _ = economy_run
    tracker = spark.sparkContext.statusTracker()
    jobs = len(tracker.getJobIdsForGroup(f"{prefix}-2"))
    assert 0 < jobs <= ITERATION_JOB_BUDGET, jobs


def test_checkpoint_meta_rows_match_tables(spark, economy_run):
    """_meta.json rows come from Observations on the writes, not from a
    read-back count: they must still equal the tables as written."""
    import json
    import os

    from chronographer_spark.search.driver import STATE_TABLES

    gs, _, _ = economy_run
    for it in range(1, gs.last_complete_iteration() + 1):
        d = gs._iter_dir(it)
        with open(os.path.join(d, "_meta.json"), encoding="utf-8") as fh:
            rows = json.load(fh)["rows"]
        assert set(rows) == set(STATE_TABLES)
        for t in STATE_TABLES:
            assert rows[t] == spark.read.parquet(os.path.join(d, t)).count(), (it, t)


def test_search_cache_does_not_grow_with_iterations(economy_run):
    """Every table an iteration materializes is released once its
    checkpoint is written: iteration 4 starts with no more cached plans or
    persisted RDDs than iteration 2 did."""
    _, _, held = economy_run
    (cached_2, rdds_2), (cached_4, rdds_4) = held[2], held[4]
    assert cached_4 == cached_2
    # persisted RDDs are weakly held, so unrelated ones may vanish in between
    assert rdds_4 <= rdds_2


def test_gold_metrics_one_pass_match_separate_counts(spark, economy_run):
    gs, _, _ = economy_run
    gs.gold = spark.createDataFrame(
        [(EX + "Storming",), (EX + "Vainqueurs",), (EX + "Storming",), (EX + "Missing",)],
        "event string",
    )
    state = gs.final_state()
    found = gs.found_events(state)
    g = gs.gold.dropDuplicates()
    expected = (
        found.join(g, "event", "inner").count(),
        found.join(g, "event", "left_anti").count(),
        g.join(found, "event", "left_anti").count(),
    )
    assert expected[0] == 2 and expected[2] == 1
    m = gs._metrics(state)
    assert (m["tp"], m["fp"], m["fn"]) == expected


@pytest.mark.parametrize("strategy", ["pred_freq", "entropy_pred_object_freq", "inverse_pred_freq"])
def test_rank_top1_is_one_job(spark, strategy):
    import uuid

    # several partitions, no shuffle: the table as the search materializes it
    rows = [(3, "ingoing", "p", "x", 150), (1, "ingoing", "a", "x", 300),
            (1, "outgoing", "b", "y", 50), (1, "ingoing", "c", "x", 1)]
    occ = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), OCC_SCHEMA)
    group = f"rank-{uuid.uuid4().hex}"
    sc = spark.sparkContext
    sc.setJobGroup(group, "rank_top1")
    try:
        row = rank_top1(occ, strategy)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert row["priority"] == 1
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
