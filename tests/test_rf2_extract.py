"""P12 annotation transfer + S7 five-file extraction + S9 OWL→RF2
conversion tests (reference parity: SubOntologyExtractionHandler.java:
725-760, RF2ExtractionWriter.java:51-149, OWLtoRF2Service.java:38-226)."""

import glob
import os
import zipfile

import pyspark.sql.functions as F

from subont import fixtures
from subont.rf2_extract import (
    RF2_EXTRACTION_METADATA,
    extract_rf2_snapshot,
    owl_to_rf2_tables,
    write_owl_rf2_zip,
)

SNAP = fixtures.DUMMY_SNAPSHOT


# ---------------------------------------------------------------------------
# P12: annotation transfer + Focus/Supporting tags
# ---------------------------------------------------------------------------

def test_annotation_transfer_and_tags(spark, dummy_extraction):
    ont, res = dummy_extraction
    anns = res.sub.annotations
    labels = {
        r.entity_id: r.value
        for r in anns.filter(F.col("prop") == "rdfs:label").collect()
    }
    # the focus concept's source label survives into the subontology
    assert labels[fixtures.FOCUS] == fixtures.DUMMY_LABELS[fixtures.FOCUS]
    # every signature class gets exactly one concept-type comment
    comments = {
        r.entity_id: r.value
        for r in anns.filter(F.col("prop") == "rdfs:comment").collect()
    }
    assert comments[fixtures.FOCUS] == "Focus concept"
    sig_ids = {r.concept_id for r in res.sub.class_signature().collect()}
    assert set(comments) == sig_ids
    assert set(comments.values()) <= {
        "Focus concept", "Supporting concept", "Supporting concept (with definition)",
    }
    # transferred annotations only reference sub∪NNF entities
    ent = {r[0] for r in res.entity_ids.collect()}
    assert set(labels) <= ent


def test_annotations_render_and_save(spark, dummy_extraction, tmp_path):
    from subont.owl_io import render_annotations_df, save_functional

    _, res = dummy_extraction
    lines = {r.expr for r in render_annotations_df(res.sub).collect()}
    assert any(
        line.startswith("AnnotationAssertion(rdfs:comment <http://snomed.info/id/"
                        f"{fixtures.FOCUS}> \"Focus concept\")")
        for line in lines
    )
    out = str(tmp_path / "sub_owl")
    save_functional(res.sub, out)
    part = glob.glob(f"{out}/part-*")[0]
    text = open(part).read()
    assert "AnnotationAssertion(" in text and "SubClassOf(" in text


# ---------------------------------------------------------------------------
# S7: five-file signature-filtered extraction
# ---------------------------------------------------------------------------

def test_extract_rf2_snapshot_dummy(spark, dummy_extraction, tmp_path):
    _, res = dummy_extraction
    out = str(tmp_path / "rf2")
    tables = extract_rf2_snapshot(spark, SNAP, res.entity_ids, out)

    kept_c = {int(r.id) for r in tables[
        "Snapshot/Terminology/sct2_Concept_Snapshot"].collect()}
    ent = {r[0] for r in res.entity_ids.collect()}
    from subont.rf2_io import read_rf2_tsv
    all_c = {int(r.id) for r in read_rf2_tsv(
        spark, f"{SNAP}/sct2_Concept_Snapshot_INT_20180731.txt").collect()}
    assert kept_c == (ent | set(RF2_EXTRACTION_METADATA)) & all_c
    assert fixtures.FOCUS in kept_c

    descs = tables["Snapshot/Terminology/sct2_Description_Snapshot-en"]
    assert descs.filter(~F.col("conceptId").isin([str(i) for i in kept_c])).isEmpty() \
        or {int(r.conceptId) for r in descs.collect()} <= (ent | set(RF2_EXTRACTION_METADATA))
    # OWL refset rows gated on entity ids
    owl = tables["Snapshot/Terminology/sct2_sRefset_OWLExpressionSnapshot"]
    assert {int(r.referencedComponentId) for r in owl.collect()} <= (
        ent | set(RF2_EXTRACTION_METADATA)
    )
    # all five files written as date-stamped single files with headers
    for rel in tables:
        hits = glob.glob(os.path.join(out, os.path.dirname(rel),
                                      os.path.basename(rel) + "_INT_*.txt"))
        assert hits, rel
        assert open(hits[0]).readline().startswith("id\t")


def test_extract_langrefset_gating(spark, tmp_path):
    """The description→langrefset second semi-join: lang rows survive
    only when their referencedComponentId is a KEPT description id."""
    snap = tmp_path / "snap"
    (snap / "Terminology").mkdir(parents=True)
    (snap / "Refset" / "Language").mkdir(parents=True)
    with open(snap / "Terminology" / "sct2_Concept_Snapshot_INT_20250101.txt", "w") as f:
        f.write("id\teffectiveTime\tactive\tmoduleId\tdefinitionStatusId\n")
        f.write("101\t20250101\t1\tm\tp\n")
        f.write("102\t20250101\t1\tm\tp\n")
    with open(snap / "Terminology" / "sct2_Description_Snapshot-en_INT_20250101.txt", "w") as f:
        f.write("id\teffectiveTime\tactive\tmoduleId\tconceptId\tlanguageCode\ttypeId\tterm\tcaseSignificanceId\n")
        f.write("9001\t20250101\t1\tm\t101\ten\t900000000000003001\tKept FSN\tcs\n")
        f.write("9002\t20250101\t1\tm\t102\ten\t900000000000003001\tDropped FSN\tcs\n")
        f.write("9003\t20250101\t1\tm\t101\ten\t900000000000550004\tA text definition\tcs\n")
    with open(snap / "Refset" / "Language" / "der2_cRefset_LanguageSnapshot-en_INT_20250101.txt", "w") as f:
        f.write("id\teffectiveTime\tactive\tmoduleId\trefsetId\treferencedComponentId\tacceptabilityId\n")
        f.write("u1\t20250101\t1\tm\t900000000000509007\t9001\tpref\n")
        f.write("u2\t20250101\t1\tm\t900000000000509007\t9002\tpref\n")
        f.write("u3\t20250101\t1\tm\t900000000000509007\t9999\tpref\n")
        f.write("u4\t20250101\t1\tm\t900000000000509007\t9003\tpref\n")

    ids = spark.createDataFrame([(101,)], "concept_id long")
    out = str(tmp_path / "out")
    tables = extract_rf2_snapshot(spark, str(snap), ids, out, include_metadata=False)

    descs = tables["Snapshot/Terminology/sct2_Description_Snapshot-en"].collect()
    assert {r.id for r in descs} == {"9001"}
    tdefs = tables["Snapshot/Terminology/sct2_TextDefinition_Snapshot-en"].collect()
    assert {r.id for r in tdefs} == {"9003"}  # typeId-routed, like the reference
    lang = tables["Snapshot/Refset/Language/der2_cRefset_LanguageSnapshot-en"].collect()
    assert {r.referencedComponentId for r in lang} == {"9001", "9003"}


# ---------------------------------------------------------------------------
# S9: OWL → RF2 conversion tables + zip
# ---------------------------------------------------------------------------

def test_owl_to_rf2_tables(spark):
    ont = fixtures.dummy_ontology(spark)
    tables = owl_to_rf2_tables(ont)

    concepts = {int(r.id): r.definitionStatusId for r in tables[
        "SnomedCT/Snapshot/Terminology/sct2_Concept_Snapshot"].collect()}
    # the 4 hard-coded metadata ids are present
    for mid in (138875005, 900000000000441003, 410662002, 762705008):
        assert mid in concepts
    # the equivalence-defined focus concept is fully defined
    assert concepts[fixtures.FOCUS] == "900000000000073002"
    assert concepts[138875005] == "900000000000074008"  # primitive

    descs = tables["SnomedCT/Snapshot/Terminology/sct2_Description_Snapshot-en"].collect()
    terms = {r.conceptId: r.term for r in descs if r.typeId == "900000000000003001"}
    assert terms[str(fixtures.FOCUS)] == fixtures.DUMMY_LABELS[fixtures.FOCUS]
    fsn_ids = {r.id for r in descs if r.typeId == "900000000000003001"
               and not r.id.startswith(("517", "900", "246", "363", "680"))}

    tdef_ids = {r.id for r in tables[
        "SnomedCT/Snapshot/Terminology/sct2_TextDefinition_Snapshot-en"].collect()}
    # textdef file re-emits the FSN rows with the same restarted sequence
    assert tdef_ids <= fsn_ids | {r.id for r in descs}

    lang = tables["SnomedCT/Snapshot/Refset/Language/der2_cRefset_LanguageSnapshot-en"].collect()
    desc_all_ids = {r.id for r in descs}
    assert {r.referencedComponentId for r in lang} <= desc_all_ids
    assert all(r.acceptabilityId == "900000000000548007" for r in lang)

    owl = tables["SnomedCT/Snapshot/Terminology/sct2_sRefset_OWLExpressionSnapshot"].collect()
    exprs = {r.owlExpression for r in owl}
    # injected property→top-property axiom (OWLtoRF2Service.java:56-65)
    assert "SubObjectPropertyOf(:363698007 :762705008)" in exprs
    # hard-coded metadata rows (:210-214)
    assert "SubClassOf(:410662002 :900000000000441003)" in exprs
    # member ids are UUID-shaped and deterministic
    ids1 = sorted(r.id for r in owl)
    assert all(len(i) == 36 and i.count("-") == 4 for i in ids1)
    ids2 = sorted(r.id for r in
                  owl_to_rf2_tables(ont)[
                      "SnomedCT/Snapshot/Terminology/sct2_sRefset_OWLExpressionSnapshot"
                  ].collect())
    assert ids1 == ids2

    rels = tables["SnomedCT/Snapshot/Terminology/sct2_Relationship_Snapshot"]
    assert rels.isEmpty()


def test_owl_rf2_zip_roundtrip(spark, tmp_path):
    ont = fixtures.dummy_ontology(spark)
    zip_path = str(tmp_path / "debug_OWLRefset.zip")
    write_owl_rf2_zip(ont, zip_path)
    with zipfile.ZipFile(zip_path) as zf:
        names = zf.namelist()
        assert len(names) == 6
        assert any("sct2_Concept_Snapshot" in n for n in names)
        concept_entry = [n for n in names if "sct2_Concept" in n][0]
        body = zf.read(concept_entry).decode()
        assert body.splitlines()[0].split("\t")[0] == "id"


def test_json_subset_variant(spark, tmp_path):
    from subont.rf2_io import load_subset, parse_subset_json

    # first line is skipped (header), like InputSignatureHandler.readRefsetJson
    assert parse_subset_json("header\n123\n456\n") == [(123, False), (456, False)]
    p = tmp_path / "subset.json"
    p.write_text("conceptIds\n362969004\n")
    got = [tuple(r) for r in load_subset(spark, str(p)).collect()]
    assert got == [(362969004, False)]


def test_owl_rf2_zip_distributed_fallback_streams_same_tables(spark, tmp_path, monkeypatch):
    """The distributed zip fallback (streamed part files — the
    over-the-gate path) writes the same member files with the same line
    sets as the local-kernel zip assembly."""
    import zipfile

    from subont.rf2_extract import write_owl_rf2_zip

    ont = fixtures.dummy_ontology(spark)
    p_loc = str(tmp_path / "loc.zip")
    p_dist = str(tmp_path / "dist.zip")
    monkeypatch.setenv("SUBONT_LOCAL_RF2", "auto")
    write_owl_rf2_zip(ont, p_loc)
    monkeypatch.setenv("SUBONT_LOCAL_RF2", "off")
    write_owl_rf2_zip(ont, p_dist)
    with zipfile.ZipFile(p_loc) as zl, zipfile.ZipFile(p_dist) as zd:
        assert sorted(zl.namelist()) == sorted(zd.namelist())
        for name in zl.namelist():
            ltxt = zl.read(name).decode().splitlines()
            dtxt = zd.read(name).decode().splitlines()
            assert ltxt[0] == dtxt[0], name  # header line
            assert sorted(ltxt[1:]) == sorted(dtxt[1:]), name
            assert zl.read(name).decode().endswith("\n")
            assert zd.read(name).decode().endswith("\n")


def test_local_owl_rf2_tables_equal_distributed(spark, monkeypatch):
    """The local OWL→RF2 conversion produces exactly the distributed
    tables' rows (fixture + randomized synthetic ontology)."""
    from subont.synth import synthetic_ontology

    for ont in (fixtures.dummy_ontology(spark),
                synthetic_ontology(spark, n_concepts=200, seed=2, gci_every=64)):
        monkeypatch.setenv("SUBONT_LOCAL_RF2", "auto")
        loc = owl_to_rf2_tables(ont)
        monkeypatch.setenv("SUBONT_LOCAL_RF2", "off")
        dist = owl_to_rf2_tables(ont)
        assert loc.keys() == dist.keys()
        for key in loc:
            lrows = {tuple(r) for r in loc[key].collect()}
            drows = {tuple(r) for r in dist[key].collect()}
            assert loc[key].columns == dist[key].columns, key
            assert lrows == drows, key
