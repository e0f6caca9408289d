"""S1-S5 source tests: parse the reference's CI fixture files
(tests/data, or an upstream src/test/resources named by
$SUBONT_REFERENCE_DIR — see subont.fixtures.RESOURCES) and check the
decoded tables agree with the hand-encoded fixture + expected filters."""

import pyspark.sql.functions as F
import pytest

from subont import fixtures
from subont.model import IS_A, Some, And, pv_id_for
from subont.owl_io import load_functional, parse_functional, render_axioms
from subont.rf2_io import (
    expand_subset,
    isa_pairs_from_relationships,
    load_subset,
    parse_subset_text,
    read_rf2_tsv,
)

OWL = fixtures.DUMMY_OWL
REL = f"{fixtures.DUMMY_SNAPSHOT}/sct2_Relationship_Snapshot_INT_20180731.txt"
SUBSET = fixtures.DUMMY_SUBSET


def _axiom_set(ont):
    return set(render_axioms(ont))


def test_owl_parse_matches_fixture_encoding(spark):
    parsed = load_functional(spark, OWL)
    manual = fixtures.dummy_ontology(spark)
    assert _axiom_set(parsed) == _axiom_set(manual)
    # nested restriction reified to the same content-hash ids
    pv_outer = pv_id_for(Some(609096000, Some(363698007, 113331007)))
    assert parsed.pvs.filter(F.col("pv_id") == pv_outer).count() == 1
    # annotations harvested
    labels = {r.entity_id: r.value for r in parsed.annotations.collect()}
    assert labels[362969004] == "Disorder of endocrine system (disorder)"


def test_owl_parse_gci_and_chain():
    text = """
SubClassOf(ObjectIntersectionOf(:11 ObjectSomeValuesFrom(:100 :12)) :13)
SubObjectPropertyOf(ObjectPropertyChain(:100 :101) :100)
TransitiveObjectProperty(:102)
"""
    b = parse_functional(text)
    assert len([a for a in b.axioms if a["is_gci"]]) == 1
    assert b.role_chains == [dict(super_role=100, left_role=100, right_role=101)]
    assert b.transitive_roles == {102}


def test_rf2_relationship_scan_filters(spark):
    rels = read_rf2_tsv(spark, REL, active_only=False)
    # fixture has 13 data rows, one inactive (dummy snapshot)
    assert rels.count() == 13
    pairs = isa_pairs_from_relationships(rels)
    got = {(r.parent, r.child) for r in pairs.collect()}
    # the inactive 363698007-row and the active attribute row are excluded
    assert (113331007, 362969004) not in got
    assert (138875005, 900000000000441003) in got
    assert len(got) == 11


def test_subset_parse_variants():
    assert parse_subset_text("362969004\n") == [(362969004, False)]
    assert parse_subset_text(" <<123 |Some term| \n\n456\n") == [(123, True), (456, False)]
    with pytest.raises(ValueError):
        parse_subset_text("notanid\n")


def test_subset_expand_descendants(spark):
    rels = read_rf2_tsv(spark, REL)
    pairs = isa_pairs_from_relationships(rels)
    subset = spark.createDataFrame(
        [(900000000000441003, True)], "concept_id long, with_descendants boolean"
    )
    got = {r.concept_id for r in expand_subset(subset, pairs).collect()}
    assert got == {
        900000000000441003,
        116680003,
        723594008,
        723596005,
        410662002,
        762705008,
        762706009,
        363698007,  # IS-A 762705008 per the fixture relationship rows
    }
    subset_file = load_subset(spark, SUBSET)
    assert [tuple(r) for r in subset_file.collect()] == [(362969004, False)]


def test_owl_refset_rows_and_complex_nesting(spark):
    from subont.rf2 import owl_refset_rows
    from subont.verify import detect_complex_nesting

    ont = load_functional(spark, OWL)
    rows = owl_refset_rows(ont).collect()
    assert len(rows) == 11  # 10 class axioms + 1 subproperty
    by_ref = {r.referencedComponentId: r.owlExpression for r in rows}
    assert by_ref["362969004"].startswith("EquivalentClasses(:362969004")
    assert ":609096000" in by_ref["362969004"]
    # V4: the dummy fixture's nested restriction is wrapped in the role
    # grouper (609096000) → NOT flagged as complex
    assert detect_complex_nesting(ont).isEmpty()
    # a genuinely complex nesting is flagged
    from subont.model import OntologyBuilder, Some

    b = OntologyBuilder()
    b.add_subclass(1, Some(100, Some(101, 2)))
    flagged = detect_complex_nesting(b.build(spark))
    assert flagged.count() == 1


def test_entails_lookup(spark):
    from subont.closure import classify

    ont = load_functional(spark, OWL)
    cl = classify(ont)
    pairs = spark.createDataFrame(
        [(362969004, 138875005), (362969004, 362969004), (138875005, 362969004)],
        "sub_id long, super_id long",
    )
    got = {(r.sub_id, r.super_id): r.entailed for r in cl.entails(pairs).collect()}
    assert got[(362969004, 138875005)] is True
    assert got[(362969004, 362969004)] is True
    assert got[(138875005, 362969004)] is False


def test_local_render_equals_distributed(spark, monkeypatch):
    """Size-gated local axiom render ≡ the distributed PV-string fixpoint
    render, on the fixture and on a randomized synthetic ontology."""
    from subont import fixtures
    from subont.owl_io import render_axioms_df
    from subont.synth import synthetic_ontology

    for ont in (fixtures.dummy_ontology(spark),
                synthetic_ontology(spark, n_concepts=300, seed=5, gci_every=64)):
        monkeypatch.setenv("SUBONT_LOCAL_RENDER", "auto")
        loc = {(r.ref_id, r.expr) for r in render_axioms_df(ont).collect()}
        monkeypatch.setenv("SUBONT_LOCAL_RENDER", "off")
        dist = {(r.ref_id, r.expr) for r in render_axioms_df(ont).collect()}
        assert loc == dist and len(loc) > 0
