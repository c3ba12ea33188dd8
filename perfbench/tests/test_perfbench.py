"""Tests of the benchmark's own code: seeded generators, the search gold
list, the BENCHMARK.json contract, span bookkeeping, and a tiny-scale smoke
run of every workload through the command line.

Run from the repository root: python -m pytest perfbench/tests -q
"""

import json
import os
import re
import shutil
import subprocess
import sys

import pandas as pd
import pytest

from perfbench import gen
from perfbench.tracing import Span, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PATH = re.compile(r"^[A-Za-z0-9_./-]{1,200}$")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


# -- generators ---------------------------------------------------------------


def test_transcripts_same_seed_same_table_other_seed_differs():
    a = gen.transcripts(7, 30, 6)
    pd.testing.assert_frame_equal(a, gen.transcripts(7, 30, 6))
    assert not a.equals(gen.transcripts(8, 30, 6))


def test_search_kg_same_seed_same_tables_other_seed_differs():
    a, b, c = gen.search_kg(7, 50), gen.search_kg(7, 50), gen.search_kg(8, 50)
    pd.testing.assert_frame_equal(a.triples, b.triples)
    assert (a.gold, a.found_after_two, a.seed_event) == (b.gold, b.found_after_two, b.seed_event)
    assert not a.triples.equals(c.triples)
    assert a.gold != c.gold


def test_day_bounds_are_consecutive():
    assert gen.day_bounds(8, 2, 3) == [(0, 8), (8, 10), (10, 12), (12, 14)]


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_search_gold_matches_its_generator(seed):
    """Recompute gold and the two-iteration result from the triples alone:
    walk partOf edges down from the seed through events the search's
    filters admit (dated inside the window or undated, no out-of-window
    year in the URI), then add the related events of the admitted
    children."""
    kg = gen.search_kg(seed, 100)
    t = kg.triples
    dates = dict(t[t.predicate == gen.DATE][["subject", "object"]].values)
    types = dict(t[t.predicate == gen.RDF_TYPE][["subject", "object"]].values)
    lo, hi = gen.WINDOW

    def admitted(e):
        year = re.search(r"\d{4}", e)
        in_window = e not in dates or lo <= dates[e] <= hi
        return in_window and (year is None or lo[:4] <= year.group() <= hi[:4])

    def children(e):
        return t[(t.predicate == gen.PART_OF) & (t.object == e)].subject

    gold, todo, depth = {kg.seed_event}, [(kg.seed_event, 0)], {kg.seed_event: 0}
    while todo:
        node, d = todo.pop()
        for c in children(node):
            if admitted(c):
                gold.add(c)
                depth[c] = d + 1
                todo.append((c, d + 1))
    assert sorted(gold) == kg.gold
    assert all(types[e].rsplit("/", 1)[1] in gen.EVENT_KINDS for e in gold)
    kids = {e for e, d in depth.items() if d == 1}
    related = set(t[(t.predicate == gen.RELATED_TO) & t.subject.isin(kids)].object)
    assert sorted(gold | related) == kg.found_after_two
    # background and hub structure are present
    assert len(t) > 20 * len(gold)


def test_letters_names_have_no_digits():
    names = [gen.letters(i) for i in range(2000)]
    assert len(set(names)) == len(names)
    assert not any(re.search(r"\d", n) for n in names)


# -- BENCHMARK.json -----------------------------------------------------------


def test_benchmark_json_meets_the_contract():
    s = spec()
    assert set(s) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert os.path.getsize(os.path.join(ROOT, "BENCHMARK.json")) <= 64 * 1024
    assert 1 <= len(s["paths"]) <= 16
    for p in s["paths"]:
        assert PATH.match(p) and not p.startswith("/") and ".." not in p.split("/")
        assert os.path.isdir(os.path.join(ROOT, p))
    cmd = s["command"]
    assert 1 <= len(cmd) <= 32 and all(len(a) <= 200 for a in cmd)
    for arg in cmd[1:]:
        if os.path.exists(os.path.join(ROOT, arg)):
            assert any(arg == p or arg.startswith(p + "/") for p in s["paths"]), arg
    assert isinstance(s["run_seconds"], int) and 1 <= s["run_seconds"] <= 60
    assert 2 <= len(s["workloads"]) <= 8
    assert 1 <= len(s["end_to_end"]) <= 16 and 1 <= len(s["per_layer"]) <= 128
    names = []
    for w in s["workloads"]:
        assert set(w) == {"name", "why"}
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
        names.append(w["name"])
    for m in s["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in s["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in s["end_to_end"] + s["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("higher", "lower")
        names.append(m["name"])
    assert all(NAME.match(n) for n in names)
    assert len(names) == len(set(names))
    setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
    assert setup and (setup[0]["unit"], setup[0]["better"]) == ("s", "lower")
    assert setup[0]["bound"] == max(m["bound"] for m in s["end_to_end"])


def test_workloads_match_the_runner():
    sys.path.insert(0, ROOT)
    from perfbench.run import workloads

    assert sorted(w["name"] for w in spec()["workloads"]) == sorted(workloads())


# -- spans --------------------------------------------------------------------


class _FakeContext:
    def __init__(self):
        self.group = None

    def setJobGroup(self, group, desc):
        self.group = group

    def setLocalProperty(self, key, value):
        self.group = value


class _FakeSession:
    def __init__(self):
        self.sparkContext = _FakeContext()


def test_spans_nest_restore_job_group_and_give_self_time():
    tr = Tracer(_FakeSession())
    with tr.span("job") as job:
        with tr.span("child") as child:
            assert tr.sc.group.endswith(str(child.id))
        assert tr.sc.group.endswith(str(job.id))
    assert tr.sc.group is None
    assert child.parent == job.id and job.parent is None
    job.start, job.end, child.start, child.end = 0.0, 10.0, 2.0, 5.0
    assert tr.self_time(job) == 7.0
    job.counters, child.counters = {"jobs": 2}, {"jobs": 3, "tasks": 9}
    assert tr.inclusive(job)["jobs"] == 5 and tr.inclusive(job)["tasks"] == 9
    assert tr.named("child", job) == [child]


def test_span_closed_out_of_order_raises():
    tr = Tracer(_FakeSession())
    outer = tr.begin("outer")
    tr.begin("inner")
    with pytest.raises(RuntimeError):
        tr.end(outer)
    assert isinstance(outer, Span)


# -- command line -------------------------------------------------------------


def _run(cwd, *args, timeout=600):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("_work", "_traces", "__pycache__"),
    )
    r = _run(tmp_path, "--workload", "search", "--seed", "1", "--seconds", "1",
             "--trace", "0", timeout=120)
    assert r.returncode != 0
    assert '"correct"' not in r.stdout


@pytest.mark.parametrize("workload", ["search", "daily_append"])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_tiny_smoke_run_passes_its_checks(workload, trace):
    r = _run(ROOT, "--workload", workload, "--seed", "5", "--seconds", "1",
             "--trace", trace, "--scale", "tiny")
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = spec()["per_layer" if trace == "1" else "end_to_end"]
    assert list(out["metrics"]) == [m["name"] for m in want]
    for m in want:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
    if trace == "0":
        assert all(v["value"] > 0 for v in out["metrics"].values())
    else:
        assert out["metrics"]["spark.jobs"]["value"] > 0
        assert os.path.exists(os.path.join(ROOT, "perfbench", "_traces",
                                           f"{workload}-seed5.json"))
