"""In-process extraction ≡ DataFrame extraction.

``compute_subontology`` runs P2-P12 in-process when the source was
classified by the in-process kernel (``pipeline_local``); a
classification stripped of its carrier (``dataclasses.replace(cl,
local=None)``) forces the DataFrame pipeline.  Every ``ExtractionResult``
surface must be the same order-free row set on both paths."""

import pytest

from subont import fixtures
from subont.definitions import RedundancyOptions
from subont.model import ROLE_GROUP, And, Has, OntologyBuilder, Some
from subont.synth import ROLE0, synthetic_ontology

SYNTH_CONCEPTS = 60
# new concepts X ⊑ Y and Z under the synthetic root, a role group
# ∃RG.(∃R.X ⊓ ∃R.Y) whose ∃R.Y member is weaker than ∃R.X (the D6
# rebuild mints a new group id for it), a concrete-domain PV, and a
# GCI  Z ⊓ ∃R.X ⊑ focus  attached to the focus concept (P3/D9)
GROUP_X, GROUP_Y, GCI_Z = 10**9 + 1, 10**9 + 2, 10**9 + 3


def _with_groups(spark, ont, focus):
    """``ont`` plus role-group, concrete-domain and GCI axioms on ``focus``."""
    import dataclasses

    r = ROLE0 + 1
    b = OntologyBuilder()
    b._axiom_seq = 10**12  # clear of the generator's axiom ids
    b.add_subclass(GROUP_X, GROUP_Y)
    b.add_subclass(GROUP_Y, 1)
    b.add_subclass(focus, Some(ROLE_GROUP, And([Some(r, GROUP_X), Some(r, GROUP_Y)])))
    b.add_subclass(focus, Has(ROLE0 + 39, '"5"^^xsd:integer'))
    b.add_subclass(GCI_Z, 1)
    b.add_gci(And([GCI_Z, Some(r, GROUP_X)]), focus)
    extra = b.build(spark)
    return dataclasses.replace(
        ont,
        **{
            f.name: getattr(ont, f.name).unionByName(getattr(extra, f.name))
            for f in dataclasses.fields(ont)
        },
    )


def _canon(v):
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _rows(df):
    return {_canon(tuple(r)) for r in df.collect()}


def _surfaces(res):
    return {
        "sub.axioms": _rows(res.sub.axioms),
        "sub.pvs": _rows(res.sub.pvs),
        "sub.subprops": _rows(res.sub.subprops),
        "sub.annotations": _rows(res.sub.annotations),
        "nnf_rows": _rows(res.nnf_rows),
        "prop_defs": _rows(res.prop_defs),
        "focus": _rows(res.focus),
        "defined_supporting": _rows(res.defined_supporting),
        "groupers": _rows(res.groupers),
        "undefined": _rows(res.undefined),
        "entity_ids": _rows(res.entity_ids),
        "sub_cl.closure": _rows(res.sub_cl.closure),
        "sub_cl.direct": _rows(res.sub_cl.direct),
    }


# One generator seed in tier-1: every DataFrame-side extraction costs
# 50-120 s of scheduler round-trips on a 4-core host, and seeds 1 and 2
# would push the suite past its timeout.  All three seeds pass when the
# tuple is widened to (0, 1, 2).
_SYNTH = [(seed, focus) for seed in (0,) for focus in ("plain", "gci_groups")]
_CASES = _SYNTH + ["dummy", "rich", "empty_focus"]
# one non-default option set, on the seed-0 plain case
_OPTIONS = RedundancyOptions(less_specific=False, reflexive_pv=False)


def _case(spark, case, extract_both, dummy_ont, rich):
    if case == "dummy":
        return extract_both("dummy", dummy_ont, [fixtures.FOCUS], compute_rf2=True)
    if case == "rich":
        return extract_both("rich", rich, [40, 70], compute_rf2=True)
    if case == "empty_focus":
        return extract_both("empty_focus", dummy_ont, [], compute_rf2=False)
    seed, focus = case
    ont = synthetic_ontology(spark, n_concepts=SYNTH_CONCEPTS, seed=seed, gci_every=12)
    if focus == "plain":
        opts = _OPTIONS if seed == 0 else None
        return extract_both(case, ont, [7 + seed], compute_rf2=False, options=opts)
    return extract_both(case, _with_groups(spark, ont, 5 + seed), [5 + seed], compute_rf2=False)


@pytest.mark.parametrize(
    "case", _CASES, ids=[f"synth{s}-{f}" for s, f in _SYNTH] + _CASES[len(_SYNTH):]
)
def test_local_extraction_equals_dataframe(spark, case, extract_both, dummy_ont, rich):
    pair = _case(spark, case, extract_both, dummy_ont, rich)
    loc, dist = _surfaces(pair["local"]), _surfaces(pair["dataframe"])
    assert pair["local"].sub_cl.local is not None  # the in-process path ran
    assert pair["dataframe"].src_cl.local is None
    for name in loc:
        assert loc[name] == dist[name], (
            name, sorted(loc[name] - dist[name])[:5], sorted(dist[name] - loc[name])[:5]
        )
    if isinstance(case, tuple) and case[1] == "gci_groups":
        # the case reaches GCI axioms and rebuilt role groups
        axioms = loc["sub.axioms"]
        assert any(ax[3] for ax in axioms), "no GCI axiom reached"
        assert loc["sub.pvs"] - _rows(pair["local"].src_cl.local.ont.pvs), "no rebuilt group"


def test_compute_subontology_job_budget(spark, dummy_ont):
    """With an in-process source classification the extraction starts at
    most a handful of Spark jobs (the focus and reflexive-role collects):
    a silent fallback to the DataFrame pipeline (~600 jobs on this
    fixture) fails here, not only in the benchmark."""
    from subont.closure import classify
    from subont.pipeline import compute_subontology

    cl = classify(dummy_ont)
    focus = spark.createDataFrame([(fixtures.FOCUS,)], "concept_id long")
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = int(sched.nextJobId())
    compute_subontology(spark, dummy_ont, focus, compute_rf2=True, src_cl=cl)
    assert int(sched.nextJobId()) - j0 <= 4
