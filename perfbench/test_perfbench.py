"""Self-tests of the benchmark's own code.

    python3 -m pytest perfbench -q

The toy traced passes start a local Spark session (about two minutes).
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]  # the benchmark, the program

import run  # noqa: E402
from spans import PER_LAYER, Span, Tracer, layer_totals  # noqa: E402
from workloads import KG, SubontExtract, isa_cycle, triple_problems  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _span(layer, t0, t1, j0, j1, *children):
    sp = Span(layer, layer, t0, j0, t1=t1, j1=j1)
    sp.children = list(children)
    return sp


def test_self_time_accounting():
    # root [0,10) 10 jobs; a [1,4) 3 jobs holding b [2,3) 1 job; c [5,9) 4 jobs
    b = _span("b", 2.0, 3.0, 1, 2)
    a = _span("a", 1.0, 4.0, 0, 3, b)
    c = _span("a", 5.0, 9.0, 4, 8)
    root = _span("root", 0.0, 10.0, 0, 10, a, c)
    assert root.self_wall == pytest.approx(3.0)
    assert root.self_jobs == 3
    assert a.self_wall == pytest.approx(2.0) and a.self_jobs == 2
    tot = layer_totals(root.walk())
    assert tot["a"] == {"self_s": pytest.approx(6.0), "jobs": 6, "calls": 2}
    assert tot["b"]["self_s"] == pytest.approx(1.0)
    # self times partition the root's wall, self jobs its jobs
    assert sum(t["self_s"] for t in tot.values()) == pytest.approx(root.wall)
    assert sum(t["jobs"] for t in tot.values()) == root.jobs


def test_tracer_nesting_and_jobs():
    jobs = iter(range(100))
    tr = Tracer(lambda: next(jobs))
    with tr.span("outer", "o"):
        with tr.span("inner", "i"):
            pass
    with tr.span("outer", "o2"):
        pass
    assert [r.name for r in tr.roots] == ["o", "o2"]
    outer = tr.roots[0]
    assert [c.name for c in outer.children] == ["i"]
    assert outer.jobs == 3 and outer.self_jobs == 2
    assert tr.bookkeeping_s > 0


def test_install_patches_every_binding_and_uninstall_restores():
    import subont.closure
    import subont.pipeline
    import subont.util

    orig = subont.util.chk
    tr = Tracer(lambda: 0)
    tr.install()
    try:
        assert subont.util.chk is not orig
        assert subont.pipeline._chk is subont.util.chk  # `from .util import chk as _chk`
        assert subont.closure._chk.__wrapped__ is orig
        assert subont.pipeline.classify is subont.closure.classify
    finally:
        tr.uninstall()
    assert subont.util.chk is orig and subont.pipeline._chk is orig


def test_metric_names():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    for n in names:
        assert NAME.fullmatch(n), n
    assert len(names) == len(set(names))
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(run.WORKLOADS)


def test_invariant_checks_catch_defects():
    isa = 116680003
    good = [(1, isa, 2, 0), (2, isa, 3, 0), (1, 7, 3, 0)]
    assert triple_problems(good, 3) == []
    assert triple_problems(good + [good[0]], 4)  # duplicate
    assert triple_problems(good + [(4, isa, 4, 0)], 4)  # self-loop
    assert triple_problems(good + [(3, isa, 1, 0)], 4)  # cycle
    assert triple_problems([], 0)  # no rows
    assert triple_problems(good, 2)  # count mismatch
    assert not isa_cycle([(1, 2), (2, 3), (1, 3)])


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    run.WORK = str(tmp_path_factory.mktemp("work"))
    run._environment()
    session = run.start_session(KG())
    yield session
    run.shutdown(session)


@pytest.mark.parametrize(
    "wl",
    [KG(files={"local": 2_000, "dist": 6_000}), SubontExtract(n_concepts=300)],
    ids=["kg", "subont_extract"],
)
def test_toy_traced_pass_is_covered_by_top_spans(spark, wl, monkeypatch):
    import subont.kg

    # at toy size the larger corpus must still take the distributed side
    monkeypatch.setattr(subont.kg, "_LOCAL_KG_MAX_STMTS", 10_000)
    wl.prepare(spark, 1, run.WORK)
    inp = wl.load(spark, 1, run.WORK)
    tr = Tracer(run.job_counter(spark))
    tr.install()
    try:
        wall, rows, probs = run.timed_pass(wl, spark, inp, lambda s, i, o: wl.problems(o), tr)
    finally:
        tr.uninstall()
    assert probs == [] and rows > 0
    top = sum(r.wall for r in tr.roots)
    assert 0.95 * wall <= top <= wall
    if isinstance(wl, KG):
        kg_calls = [s for s in tr.spans() if s.name == "build_kg"]
        assert sorted(type(s.out).__name__ for s in kg_calls) == ["KGResult", "_LazyKGResult"]
    else:
        assert any(s.layer == "pipeline" for s in tr.roots)
