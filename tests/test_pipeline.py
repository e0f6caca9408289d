"""End-to-end extraction on the reference CI fixture.

Reproduces SubontologyExtractionTest.java:33-70: dummy 12-concept
ontology + subset {362969004} with RF2 output → exact triple set."""

import pyspark.sql.functions as F

from subont import fixtures
from subont.model import IS_A
from subont.pipeline import compute_subontology
from subont.rf2 import relationship_rf2_rows, triples_from_nnf


def test_dummy_extraction_golden_triples(dummy_extractions):
    for res in dummy_extractions.values():
        _check_golden_triples(res)


def _check_golden_triples(res):
    triples = triples_from_nnf(res.nnf_rows, res.prop_defs, res.sub)
    got = {(r.subj, r.pred, r.obj, r.rel_group) for r in triples.collect()}
    assert got == set(fixtures.EXPECTED_TRIPLES)

    # parent-map assertions exactly as the reference test
    isa = triples.filter(F.col("pred") == IS_A)
    parents = {}
    for r in isa.collect():
        parents.setdefault(r.subj, set()).add(r.obj)
    for cls, expected in fixtures.EXPECTED_PARENTS.items():
        assert parents.get(cls) == expected, cls


def test_dummy_rf2_relationship_rows(dummy_extractions):
    for res in dummy_extractions.values():
        _check_rf2_relationship_rows(res)


def _check_rf2_relationship_rows(res):
    triples = triples_from_nnf(res.nnf_rows, res.prop_defs, res.sub)
    rows = relationship_rf2_rows(triples).collect()
    assert len(rows) == len(fixtures.EXPECTED_TRIPLES)
    # constants hard-coded by the reference (RF2Printer.java:244-272)
    for r in rows:
        assert r.active == "1"
        assert r.moduleId == "900000000000207008"
        assert r.characteristicTypeId == "900000000000011006"
        assert r.modifierId == "900000000000451002"
    # ids unique, Verhoeff-terminated, partition id 02 embedded
    ids = [r.id for r in rows]
    assert len(set(ids)) == len(ids)
    assert all(i[:-1].endswith("100000302") for i in ids)
