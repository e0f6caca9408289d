"""S7/S8 sinks end-to-end: signature-filtered RF2 extraction from the
reference's dummy snapshot (tests/data, or an upstream
src/test/resources named by $SUBONT_REFERENCE_DIR) + relationship file
writing, plus the salted join helper."""

import glob

import pyspark.sql.functions as F

from subont import fixtures
from subont.rf2 import (
    filter_rf2_by_signature,
    relationship_rf2_rows,
    triples_from_nnf,
    write_rf2_tsv,
)
from subont.rf2_io import read_rf2_tsv
from subont.skew import key_skew_profile, salted_join

SNAP = fixtures.DUMMY_SNAPSHOT


def test_concept_description_extraction_sinks(spark, dummy_extraction, tmp_path):
    ont, res = dummy_extraction
    sig = res.sub.class_signature()

    concepts = read_rf2_tsv(spark, f"{SNAP}/sct2_Concept_Snapshot_INT_20180731.txt")
    kept_c = filter_rf2_by_signature(concepts, sig, "id")
    got_ids = {int(r.id) for r in kept_c.select("id").collect()}
    sig_ids = {r.concept_id for r in sig.collect()}
    assert got_ids == sig_ids & {int(r.id) for r in concepts.select("id").collect()}
    assert 362969004 in got_ids

    descs = read_rf2_tsv(spark, f"{SNAP}/sct2_Description_Snapshot-en_INT_20180731.txt")
    kept_d = filter_rf2_by_signature(descs, sig, "conceptId")
    # every kept description's concept is in signature
    bad = kept_d.join(
        sig.select(F.col("concept_id").cast("string").alias("conceptId")), "conceptId", "left_anti"
    )
    assert bad.isEmpty()

    out = str(tmp_path / "concepts_rf2")
    write_rf2_tsv(kept_c, out)
    part = glob.glob(f"{out}/part-*.csv")[0]
    header = open(part).readline().strip().split("\t")
    assert header[:3] == ["id", "effectiveTime", "active"]


def test_relationship_sink_roundtrip(spark, dummy_extraction, tmp_path):
    ont, res = dummy_extraction
    triples = triples_from_nnf(res.nnf_rows, res.prop_defs, res.sub)
    rows = relationship_rf2_rows(triples)
    out = str(tmp_path / "rels_rf2")
    write_rf2_tsv(rows, out)
    back = read_rf2_tsv(spark, f"{out}/part-*.csv")
    got = {
        (int(r.sourceId), int(r.typeId), int(r.destinationId), int(r.relationshipGroup))
        for r in back.collect()
    }
    assert got == set(fixtures.EXPECTED_TRIPLES)


def test_salted_join_matches_plain_join(spark):
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    customer = spark.read.parquet("/root/testdata/sf0.001/customer.parquet").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    plain = orders.join(customer, "o_custkey").select("o_orderkey", "c_name")
    salted = salted_join(orders, customer, "o_custkey", salt=4).select("o_orderkey", "c_name")
    assert salted.exceptAll(plain).isEmpty() and plain.exceptAll(salted).isEmpty()
    prof = key_skew_profile(orders, "o_custkey", top=3).collect()
    assert len(prof) == 3 and prof[0]["count"] >= prof[-1]["count"]
