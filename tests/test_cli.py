"""End-to-end CLI parity (SURVEY.md §3.1): run_extraction.py driven
in-process against the reference's CI fixture files (tests/data, or an
upstream src/test/resources named by $SUBONT_REFERENCE_DIR), with a
ZIPPED snapshot archive (SubontologyExtraction.java:72-79 reads a zip)."""

import glob
import os
import sys
import zipfile

from subont import fixtures

OWL = fixtures.DUMMY_OWL
SNAP = fixtures.DUMMY_SNAPSHOT
SUBSET = fixtures.DUMMY_SUBSET


def test_run_extraction_cli_zip_snapshot(spark, tmp_path, monkeypatch):
    # zip the dummy snapshot like a release archive
    zip_path = str(tmp_path / "snapshot.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for f in glob.glob(f"{SNAP}/*.txt"):
            zf.write(f, f"Snapshot/Terminology/{os.path.basename(f)}")

    out = str(tmp_path / "out")
    import run_extraction

    monkeypatch.setattr(
        sys, "argv",
        ["run_extraction.py",
         "-source-ontology", OWL,
         "-input-subset", SUBSET,
         "-output-path", out,
         "-output-rf2",
         "-rf2-snapshot-dir", zip_path,
         "-rf2-date", "20250101",
         "--cores", "8"],
    )
    assert run_extraction.main() == 0

    # OWL document: axioms + transferred annotations + concept-type tags
    owl_text = open(os.path.join(out, "subOntology.owl")).read()
    assert "EquivalentClasses(<http://snomed.info/id/362969004>" in owl_text
    assert 'AnnotationAssertion(rdfs:comment <http://snomed.info/id/362969004> "Focus concept")' in owl_text
    assert "AnnotationAssertion(rdfs:label" in owl_text

    # relationship sink reproduces the reference's golden triples, under
    # the reference's exact date-stamped file name (RF2Printer.java:206)
    term = os.path.join(out, "RF2", "Snapshot", "Terminology")
    rel_file = os.path.join(term, "sct2_Relationship_Snapshot_INT_20250101.txt")
    rows = [line.rstrip("\n").split("\t") for line in open(rel_file)][1:]
    got = {(int(r[4]), int(r[7]), int(r[5]), int(r[6])) for r in rows}
    assert got == set(fixtures.EXPECTED_TRIPLES)

    # concrete-values file always created (RF2Printer.java:207); the
    # dummy fixture has no concrete values → header-only with the
    # reference's `value` column replacing destinationId (:216)
    conc_file = os.path.join(
        term, "sct2_RelationshipConcreteValues_Snapshot_INT_20250101.txt"
    )
    conc_lines = open(conc_file).read().splitlines()
    assert conc_lines[0].split("\t")[5] == "value"
    assert len(conc_lines) == 1

    # NNF ontology saved next to subOntology.owl (SubontologyExtraction.java:137)
    nnf_text = open(os.path.join(out, "subOntologyNNFs.owl")).read()
    assert "SubClassOf(" in nnf_text

    # five-file extraction present (S7) + OWL refset + browser zip (S9):
    # date-stamped single files in the reference's exact layout
    # (RF2ExtractionWriter.java:51-75; OWL refset under Terminology/)
    for rel in [
        "RF2/Snapshot/Terminology/sct2_Concept_Snapshot_INT_20250101.txt",
        "RF2/Snapshot/Terminology/sct2_Description_Snapshot-en_INT_20250101.txt",
        "RF2/Snapshot/Terminology/sct2_TextDefinition_Snapshot-en_INT_20250101.txt",
        "RF2/Snapshot/Refset/Language/der2_cRefset_LanguageSnapshot-en_INT_20250101.txt",
        "RF2/Snapshot/Terminology/sct2_sRefset_OWLExpressionSnapshot_INT_20250101.txt",
    ]:
        assert os.path.exists(os.path.join(out, rel)), rel
    assert not os.path.exists(
        os.path.join(out, "RF2", "Snapshot", "Refset",
                     "sct2_sRefset_OWLExpressionSnapshot_INT_20250101.txt")
    )
    assert zipfile.ZipFile(os.path.join(out, "debug_OWLRefset.zip")).namelist()
