"""Extraction on a richer synthetic ontology exercising the paths the
dummy CI fixture doesn't: GCIs (D8/D9/P3/P7), expansion rule 2 via
role chains and transitivity (P6), multi-level supporting definitions
(P4/P5), closure completion over deeper hierarchies (P10) and shrink
(P11).  The oracle is the reference's own -verify-subontology property
pair (V1/V2) plus targeted structural assertions.

The ontology (the ``rich`` fixture in conftest.py) follows
manualtests/CreateTestOntology.java:29-52."""

import pyspark.sql.functions as F
import pytest

from subont.model import IS_A
from subont.rf2 import triples_from_nnf
from subont.verify import verify_focus_equivalence, verify_transitive_closure_equal

S = 100200  # the focus-40 attribute role of the rich fixture


@pytest.fixture(scope="module")
def rich_extractions(rich, extract_both):
    """{path: result} for the in-process and DataFrame extractions."""
    return extract_both("rich", rich, [40, 70], compute_rf2=True)


def test_rich_v1_v2_properties(spark, rich, rich_extractions):
    for res in rich_extractions.values():
        _check_v1_v2(spark, rich, res)


def _check_v1_v2(spark, rich, res):
    focus = spark.createDataFrame([(40,), (70,)], "concept_id long")
    d1 = verify_focus_equivalence(rich, res.src_cl, res.sub, res.sub_cl, focus)
    assert d1.isEmpty(), d1.collect()
    d2 = verify_transitive_closure_equal(res.src_cl, res.sub_cl, res.sub.class_signature())
    assert d2.isEmpty(), d2.collect()


def test_rich_supporting_definitions(rich_extractions):
    for res in rich_extractions.values():
        _check_supporting_definitions(res)


def _check_supporting_definitions(res):
    defined = {r.concept_id for r in res.defined_supporting.collect()}
    # 60 is the transitive-role filler of focus 70's ∃T.60 → rule 2
    assert 60 in defined
    # 30 is NOT defined: the authoring form inlines non-primitive stated
    # parents via proximal primitives (DefinitionGeneratorAbstract.java:76-90),
    # so 30 never enters the subontology signature — reference-faithful
    assert 30 not in defined


def test_rich_triples_sound(spark, rich_extractions):
    for res in rich_extractions.values():
        _check_triples_sound(spark, res)


def _check_triples_sound(spark, res):
    triples = triples_from_nnf(res.nnf_rows, res.prop_defs, res.sub)
    isa = {(r.subj, r.obj) for r in triples.filter(F.col("pred") == IS_A).collect()}
    # IS-A rows must be entailed by the source ontology
    pairs = spark.createDataFrame(list(isa), "sub_id long, super_id long")
    bad = res.src_cl.entails(pairs).filter(~F.col("entailed"))
    assert bad.isEmpty(), bad.collect()
    # focus 40's nearest named parent is 11 (30 was inlined away by the
    # authoring form; 11 is the proximal primitive)
    assert (40, 11) in isa
    assert (40, 30) not in isa
    # attribute rows present for the focus defs
    attrs = {(r.subj, r.pred, r.obj) for r in triples.filter(F.col("pred") != IS_A).collect()}
    assert (40, S, 22) in attrs
