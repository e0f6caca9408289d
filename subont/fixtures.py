"""Test fixtures mirroring the reference CI resources.

``dummy_ontology`` re-encodes src/test/resources/dummy-sct-ontology.owl
(12 concepts, one EquivalentClasses with a nested restriction at :80,
rest SubClassOf + one SubObjectPropertyOf).  ``EXPECTED_TRIPLES`` is the
full relationship set the reference emits for subset {362969004} with
-output-rf2, derived from the assertions in
SubontologyExtractionTest.java:56-69 plus the NNF semantics
(generated relationship ids and group numbers are throw-away per the
reference README.md:69; comparison is on (subj, pred, obj, group)).

The resource files themselves are read from ``RESOURCES``: the
hand-written copy under tests/data (provenance in tests/data/README.md),
or an upstream ``src/test/resources`` named by $SUBONT_REFERENCE_DIR.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .model import And, Has, Ontology, OntologyBuilder, Some

RESOURCES = os.environ.get("SUBONT_REFERENCE_DIR") or os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "data"
)
DUMMY_OWL = os.path.join(RESOURCES, "dummy-sct-ontology.owl")
# the directory of snapshot TSVs (the reference's Terminology/ folder)
DUMMY_SNAPSHOT = os.path.join(RESOURCES, "dummy-sct-snapshot", "Terminology")
DUMMY_SUBSET = os.path.join(RESOURCES, "subset.txt")

FOCUS = 362969004

# concept labels from the dummy ontology (for annotations / RF2 descriptions)
DUMMY_LABELS = {
    113331007: "Structure of endocrine system (body structure)",
    116680003: "Is a (attribute)",
    138875005: "SNOMED CT Concept (SNOMED RT+CTV3)",
    362969004: "Disorder of endocrine system (disorder)",
    404684003: "Clinical finding (finding)",
    410662002: "Concept model attribute (attribute)",
    723594008: "All precoordinated SNOMED CT content (foundation metadata concept)",
    723596005: "All SNOMED CT content (foundation metadata concept)",
    762705008: "Concept model object attribute (attribute)",
    762706009: "Concept model data attribute (attribute)",
    900000000000441003: "SNOMED CT Model Component (metadata)",
    363698007: "Finding site (attribute)",
}


def dummy_ontology(spark: SparkSession) -> Ontology:
    b = OntologyBuilder()
    b.add_subclass(113331007, 138875005)
    b.add_subclass(116680003, 900000000000441003)
    b.add_equiv(
        362969004,
        And([404684003, Some(609096000, Some(363698007, 113331007))]),
    )
    b.add_subclass(404684003, 138875005)
    b.add_subclass(410662002, 900000000000441003)
    b.add_subclass(723594008, 900000000000441003)
    b.add_subclass(723596005, 723594008)
    b.add_subclass(762705008, 410662002)
    b.add_subclass(762706009, 410662002)
    b.add_subclass(900000000000441003, 138875005)
    b.add_subproperty(363698007, 762705008)
    for cid, label in DUMMY_LABELS.items():
        b.add_annotation(cid, "rdfs:label", label)
    return b.build(spark)


# (subj, pred, obj, group) — IS-A rows asserted by the reference test,
# plus the focus concept's NNF rows (IS-A to proximal parent + grouped
# attribute) and the 113331007 closure-completion row.
EXPECTED_TRIPLES = frozenset(
    {
        (362969004, 116680003, 404684003, 0),
        (362969004, 363698007, 113331007, 1),
        (404684003, 116680003, 138875005, 0),
        (113331007, 116680003, 138875005, 0),
        (900000000000441003, 116680003, 138875005, 0),
        (410662002, 116680003, 900000000000441003, 0),
        (762705008, 116680003, 410662002, 0),
        (762706009, 116680003, 410662002, 0),
        (363698007, 116680003, 762705008, 0),
    }
)

# ---------------------------------------------------------------------------
# Concrete-domain fixture (data-has-value).  Real SNOMED releases (2021+)
# define clinical drugs with concrete strength/count values; the reference
# names OWLDataHasValue like any PV (IntroducedNameHandler.java:77) and
# routes its relationship rows to sct2_RelationshipConcreteValues
# (RF2Printer.java:230).  Public SCTIDs: 763158003 |Medicinal product|,
# 732943007 |Has BoSS|, 1142135004 |Has presentation strength numerator
# value|, 1142139005 |Count of base of active ingredient|, 372687004
# |Amoxicillin|.
# ---------------------------------------------------------------------------

CONCRETE_FOCUS = 781087000

CONCRETE_STRENGTH = '"250"^^xsd:decimal'
CONCRETE_COUNT = '"1"^^xsd:integer'


def concrete_ontology(spark: SparkSession) -> Ontology:
    b = OntologyBuilder()
    b.add_subclass(763158003, 138875005)
    b.add_subclass(372687004, 138875005)
    # clinical drug: role group mixing an object PV and a data PV, plus
    # an ungrouped count data PV
    b.add_equiv(
        CONCRETE_FOCUS,
        And(
            [
                763158003,
                Some(
                    609096000,
                    And(
                        [
                            Some(732943007, 372687004),
                            Has(1142135004, CONCRETE_STRENGTH),
                        ]
                    ),
                ),
                Has(1142139005, CONCRETE_COUNT),
            ]
        ),
    )
    b.add_subproperty(732943007, 762705008)
    b.add_subproperty(1142135004, 762706009, data=True)
    b.add_subproperty(1142139005, 762706009, data=True)
    b.add_subclass(762705008, 410662002)
    b.add_subclass(762706009, 410662002)
    b.add_subclass(410662002, 900000000000441003)
    b.add_subclass(900000000000441003, 138875005)
    return b.build(spark)


# NNF triples for CONCRETE_FOCUS: proximal parent + grouped (object,
# concrete) pair + ungrouped concrete row.  value uses the RF2 encoding
# ('#' numeric prefix — snomed-owl-toolkit Relationship value semantics).
EXPECTED_CONCRETE_TRIPLES = frozenset(
    {
        (CONCRETE_FOCUS, 116680003, 763158003, 0, None),
        (CONCRETE_FOCUS, 732943007, 372687004, 1, None),
        (CONCRETE_FOCUS, 1142135004, None, 1, "#250"),
        (CONCRETE_FOCUS, 1142139005, None, 0, "#1"),
    }
)


# Parent map asserted verbatim at SubontologyExtractionTest.java:60-69.
EXPECTED_PARENTS = {
    404684003: {138875005},
    363698007: {762705008},
    762705008: {410662002},
    410662002: {900000000000441003},
    900000000000441003: {138875005},
}
