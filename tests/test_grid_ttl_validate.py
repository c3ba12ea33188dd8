"""Config validation (reference _check_config parity), grid runner, and the
TTL export/read round-trip."""

import pytest
from pyspark.sql import functions as F

from chronographer_spark.search.driver import SearchConfig


def test_search_config_validate_messages():
    SearchConfig(start="http://x/seed").validate()  # defaults are valid

    with pytest.raises(ValueError, match="`start`"):
        SearchConfig(start="").validate()
    with pytest.raises(ValueError, match="`iterations`"):
        SearchConfig(start="s", iterations=0).validate()
    with pytest.raises(ValueError, match="`type_ranking`"):
        SearchConfig(start="s", type_ranking="nope").validate()
    with pytest.raises(ValueError, match="ISO"):
        SearchConfig(start="s", dates=("1789", "1800-01-01")).validate()
    with pytest.raises(ValueError, match="start must be <="):
        SearchConfig(start="s", dates=("1800-01-01", "1789-01-01")).validate()
    with pytest.raises(ValueError, match="`walk`"):
        SearchConfig(start="s", walk="drunk").validate()
    with pytest.raises(ValueError, match="`max_uri`"):
        SearchConfig(start="s", max_uri=0).validate()


def test_pred_freq_config_keys_occurrences_by_predicate(spark, tmp_path):
    """A *_pred_freq ranking needs no separate `mode`: the config validates
    as given, and one search iteration keys its occurrences by predicate
    only (null direction and endpoint)."""
    from chronographer_spark.operators.filtering import FilteringConfig
    from chronographer_spark.search.driver import GraphSearch
    from tests.test_search_core import DBO_DATE, EX, _kg, _vocab

    cfg = SearchConfig(
        start=EX + "FrenchRev",
        iterations=1,
        target_types=[EX + "class/Event"],
        type_ranking="pred_freq",
        dates=("1789-01-01", "1800-12-31"),
    )
    cfg.validate()
    assert cfg.mode == "pred"

    pred_domain, pred_range, superclasses = _vocab(spark)
    filt = FilteringConfig(
        point_in_time=[DBO_DATE], start_dates=[], end_dates=[],
        places=[EX + "class/Place"], people=[EX + "class/Person"],
        dataset_type="dbpedia",
    )
    gs = GraphSearch(
        spark, _kg(spark), cfg, filt,
        pred_domain=pred_domain, pred_range=pred_range, superclasses=superclasses,
        checkpoint_dir=str(tmp_path), run_id="pred-mode",
    )
    assert gs.run()["last_iteration"] == 1
    # the ranked path left the occurrence table; the rest stays keyed alike
    chosen = gs.to_expand
    assert chosen is not None and chosen["predicate"] == EX + "prop/partof"
    occ = [chosen] + gs.final_state()["occurrences"].collect()
    assert all(r["direction"] is None and r["endpoint"] is None for r in occ)


def test_expand_grid_derives_mode():
    from chronographer_spark.search.grid import expand_grid

    base = SearchConfig(start="http://x/seed")
    cells = expand_grid(
        base, {"type_ranking": ["pred_freq", "entropy_pred_object_freq"], "iterations": [1, 2]}
    )
    assert len(cells) == 4
    ids = [c for c, _ in cells]
    assert len(set(ids)) == 4  # unique checkpoint namespaces
    for _, cfg in cells:
        cfg.validate()  # mode was derived consistently
    modes = {(c.type_ranking, c.mode) for _, c in cells}
    assert ("pred_freq", "pred") in modes
    assert ("entropy_pred_object_freq", "pred_object") in modes


def test_run_grid_summary(spark, tmp_path):
    from chronographer_spark.operators.filtering import FilteringConfig
    from chronographer_spark.search.grid import run_grid
    from tests.test_search_core import DBO_DATE, EX, _kg, _vocab

    pred_domain, pred_range, superclasses = _vocab(spark)
    base = SearchConfig(
        start=EX + "FrenchRev",
        iterations=2,
        target_types=[EX + "class/Event"],
        dates=("1789-01-01", "1800-12-31"),
        max_uri=100,
    )
    filt = FilteringConfig(
        point_in_time=[DBO_DATE], start_dates=[], end_dates=[],
        places=[EX + "class/Place"], people=[EX + "class/Person"],
        dataset_type="dbpedia",
    )
    out = run_grid(
        spark, _kg(spark), base, filt,
        {"type_ranking": ["pred_object_freq", "entropy_pred_object_freq"]},
        checkpoint_dir=str(tmp_path),
        pred_domain=pred_domain, pred_range=pred_range, superclasses=superclasses,
    )
    rows = out.collect()
    assert len(rows) == 2
    assert all(r["n_subgraph_triples"] > 0 for r in rows)
    assert len({r["cell_id"] for r in rows}) == 2
    # the one-pass cell summary equals two separate counts over each
    # cell's checkpointed final subgraph
    from chronographer_spark.search.driver import GraphSearch
    from chronographer_spark.search.grid import expand_grid

    cells = expand_grid(
        base, {"type_ranking": ["pred_object_freq", "entropy_pred_object_freq"]}
    )
    for r, (cell_id, cfg) in zip(rows, cells):
        sub = (
            GraphSearch(
                spark, _kg(spark), cfg, filt,
                pred_domain=pred_domain, pred_range=pred_range,
                superclasses=superclasses, checkpoint_dir=str(tmp_path),
                run_id=f"grid-{cell_id}",
            )
            .final_state()["subgraph"]
            .select("subject", "predicate", "object")
            .dropDuplicates()
        )
        nodes = sub.select("subject").union(sub.select("object")).distinct()
        assert (r["cell_id"], r["n_subgraph_triples"], r["n_nodes"]) == (
            cell_id, sub.count(), nodes.count()
        )

    # parallel cells (thread pool + per-cell scheduler pools) must produce
    # the identical summary in the identical order
    par = run_grid(
        spark, _kg(spark), base, filt,
        {"type_ranking": ["pred_object_freq", "entropy_pred_object_freq"]},
        checkpoint_dir=str(tmp_path / "par"),
        pred_domain=pred_domain, pred_range=pred_range, superclasses=superclasses,
        parallelism=2,
    ).collect()
    assert [tuple(r) for r in par] == [tuple(r) for r in rows]


def test_ttl_roundtrip(spark, tmp_path):
    from chronographer_spark.io.ttl import read_ttl, write_ttl

    triples = spark.createDataFrame(
        [
            ("ng:event/c1/0", "rdf:type", "sem:Event"),
            ("ng:event/c1/0", "sem:hasActor", "ng:actor/user"),
            ("ng:event/c1/0", "sem:hasBeginTimeStamp", "2024-01-05"),
            ("ng:event/c1/0", "ng:note", 'a "quoted" literal'),
            # escaping traps (ADVICE round 1): trailing backslash, embedded
            # newline/CR, and a literal backslash-n sequence
            ("ng:event/c1/0", "ng:note2", "ends with backslash\\"),
            ("ng:event/c1/0", "ng:note3", "line one\nline\rtwo"),
            ("ng:event/c1/0", "ng:note4", "literal \\n not a newline"),
            ("ng:conversation/c1", "sem:hasSubEvent", "ng:event/c1/0"),
        ],
        ["subject", "predicate", "object"],
    )
    path = str(tmp_path / "out.ttl")
    write_ttl(triples, path)
    back = read_ttl(spark, path)
    orig = {tuple(r) for r in triples.collect()}
    got = {tuple(r) for r in back.collect()}
    assert got == orig


# Every CURIE prefix, full URIs, a prefix-lookalike, bare prefixes, dates and
# escaped literals; GOLDEN_TTL_LINES are the lines the nested (3^n-node)
# expand_curie rendered for it, kept as the byte-exact reference.
MIXED_PREFIX_TRIPLES = [
    ("sem:e1", "rdf:type", "sem:Event"),
    ("ng:turn/1", "ng:next", "ng:turn/2"),
    ("ent:Paris", "sem:hasPlace", "ent:France"),
    ("wsj:doc_7", "nif:anchorOf", 'say "hi"\\now'),
    ("frame:Arrest", "skos:broader", "gfe:Agent"),
    ("nif:ctx", "rdf:value", "line1\nline2\r"),
    ("ng:e2", "sem:hasTimeStamp", "1789-07-14"),
    ("http://example.org/x", "http://example.org/p", "http://example.org/y"),
    ("ngx:notaprefix", "sem:", "sem:"),
    ("ent:", "rdf:label", "plain text"),
    ("skos:c", "frame:rel", "wsj:"),
]
GOLDEN_TTL_LINES = [
    '<http://chronographer-spark.local/ent/> <http://www.w3.org/1999/02/22-rdf-syntax-ns#label> "plain text" .',
    "<http://chronographer-spark.local/ent/Paris> <http://semanticweb.cs.vu.nl/2009/11/sem/hasPlace> <http://chronographer-spark.local/ent/France> .",
    '<http://chronographer-spark.local/ng/e2> <http://semanticweb.cs.vu.nl/2009/11/sem/hasTimeStamp> "1789-07-14"^^<http://www.w3.org/2001/XMLSchema#date> .',
    "<http://chronographer-spark.local/ng/turn/1> <http://chronographer-spark.local/ng/next> <http://chronographer-spark.local/ng/turn/2> .",
    "<http://example.org/x> <http://example.org/p> <http://example.org/y> .",
    '<http://persistence.uni-leipzig.org/nlp2rdf/ontologies/nif-core#ctx> <http://www.w3.org/1999/02/22-rdf-syntax-ns#value> "line1\\nline2\\r" .',
    "<http://semanticweb.cs.vu.nl/2009/11/sem/e1> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://semanticweb.cs.vu.nl/2009/11/sem/Event> .",
    "<http://www.w3.org/2004/02/skos/core#c> <https://w3id.org/framester/data/framesterabox/rel> <https://w3id.org/framester/wsj/> .",
    "<https://w3id.org/framester/data/framesterabox/Arrest> <http://www.w3.org/2004/02/skos/core#broader> <https://w3id.org/framester/framenet/abox/gfe/Agent> .",
    '<https://w3id.org/framester/wsj/doc_7> <http://persistence.uni-leipzig.org/nlp2rdf/ontologies/nif-core#anchorOf> "say \\"hi\\"\\\\now" .',
    "<ngx:notaprefix> <http://semanticweb.cs.vu.nl/2009/11/sem/> <http://semanticweb.cs.vu.nl/2009/11/sem/> .",
]


def test_ttl_lines_byte_identical_mixed_prefixes(spark):
    from chronographer_spark.io.ttl import to_ttl_lines
    from chronographer_spark.vocab import PREFIXES

    # the fixture exercises every declared prefix
    used = {t.split(":")[0] + ":" for row in MIXED_PREFIX_TRIPLES for t in row}
    assert set(PREFIXES) <= used
    triples = spark.createDataFrame(
        MIXED_PREFIX_TRIPLES, "subject string, predicate string, object string"
    )
    got = sorted(r.line for r in to_ttl_lines(triples).collect())
    assert got == GOLDEN_TTL_LINES


def test_curie_case_expression_linear_in_prefixes(spark):
    """The CURIE rewrite is one flat CASE: the input column appears twice
    per prefix (test + substring) plus once in the ELSE branch, so the
    expression grows linearly (the chained form read the previous CASE
    three times per prefix: 3^n)."""
    from chronographer_spark.io.ttl import _swap_prefix, compact_curie, expand_curie
    from chronographer_spark.vocab import PREFIXES

    pairs = list(PREFIXES.items())
    for n in range(len(pairs) + 1):
        expr = str(_swap_prefix(F.col("curie_in"), pairs[:n]))
        assert expr.count("curie_in") == 2 * n + 1, n
    for fn in (expand_curie, compact_curie):
        assert str(fn(F.col("curie_in"))).count("curie_in") == 2 * len(pairs) + 1


def test_versioned_catalog_snapshots(spark, tmp_path):
    """Snapshot isolation semantics of the Iceberg-shaped shim: immutable
    versions, time-travel reads, copy-on-write append, rollback."""
    from chronographer_spark.io.catalog import VersionedCatalog

    cat = VersionedCatalog(spark, str(tmp_path))
    a = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "val"])
    b = spark.createDataFrame([(3, "c")], ["id", "val"])

    v0 = cat.write(a, "t")
    # a reader pins v0 before the append lands
    reader_v0 = cat.read("t", version=v0)
    v1 = cat.write(b, "t", mode="append")
    assert (v0, v1) == (0, 1)
    assert cat.read("t").count() == 3  # head
    assert reader_v0.count() == 2  # pinned snapshot unaffected
    assert cat.read("t", version=0).count() == 2  # time travel

    v2 = cat.rollback("t", 0)
    assert cat.read("t").count() == 2
    hist = cat.history("t")
    assert [h["version"] for h in hist] == [0, 1, 2]
    assert [h["rows"] for h in hist] == [2, 3, 2]


def test_versioned_catalog_expire_and_compact(spark, tmp_path):
    """expire_snapshots drops all but the newest keep_last (+pins, never
    the head); compact republishes the head as target_files files and the
    expired fragmented predecessor is reclaimed."""
    import os

    from chronographer_spark.io.catalog import VersionedCatalog

    cat = VersionedCatalog(spark, str(tmp_path))
    for i in range(4):  # v0..v3, one row each append -> fragmented head
        cat.write(
            spark.createDataFrame([(i, f"r{i}")], ["id", "val"]),
            "t",
            mode="append" if i else "overwrite",
        )
    assert [h["version"] for h in cat.history("t")] == [0, 1, 2, 3]

    removed = cat.expire_snapshots("t", keep_last=2, protect=(0,))
    assert removed == [1]
    assert [h["version"] for h in cat.history("t")] == [0, 2, 3]
    assert cat.read("t").count() == 4  # head untouched
    assert cat.read("t", version=0).count() == 1  # pin survived

    def n_files(v):
        vdir = os.path.join(str(tmp_path), "t", f"v={v}")
        return len([f for f in os.listdir(vdir) if f.endswith(".parquet")])

    v4 = cat.compact("t", target_files=1)
    assert n_files(v4) == 1 and n_files(3) > 1
    assert cat.read("t").count() == 4
    assert {r.val for r in cat.read("t").collect()} == {"r0", "r1", "r2", "r3"}
    # reclaim everything but the compacted head
    cat.expire_snapshots("t", keep_last=1)
    assert [h["version"] for h in cat.history("t")] == [v4]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        cat.expire_snapshots("t", keep_last=0)


def test_versioned_catalog_honors_partitioning_and_exists(spark, tmp_path):
    """write_triples through the snapshot layer must keep its predicate
    partition layout (ADVICE round 1: **kw was silently dropped), and
    exists() must recognize the v=N layout."""
    import os

    from chronographer_spark.io.catalog import VersionedCatalog

    cat = VersionedCatalog(spark, str(tmp_path))
    assert not cat.exists("triples")
    triples = spark.createDataFrame(
        [("s1", "p1", "o1"), ("s2", "p2", "o2")], ["subject", "predicate", "object"]
    )
    cat.write_triples(triples)
    assert cat.exists("triples")
    vdir = os.path.join(str(tmp_path), "triples", "v=0")
    parts = {d for d in os.listdir(vdir) if d.startswith("predicate=")}
    assert parts == {"predicate=p1", "predicate=p2"}
    assert {r["predicate"] for r in cat.read("triples").collect()} == {"p1", "p2"}
