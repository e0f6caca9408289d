#!/usr/bin/env python
"""CLI mirroring the reference's entry point (SubontologyExtraction.java:58-93).

    spark-submit --py-files subont.zip run_extraction.py \
        -source-ontology dummy.owl -input-subset subset.txt \
        -output-rf2 -rf2-snapshot-dir snapshot/Terminology \
        -output-path out/ [-verify-subontology]

The snapshot is a directory of TSVs or, like the reference
(SubontologyExtraction.java:72-79), a ``.zip`` release archive, which is
exploded to a temporary directory first.  Verification failures print
diff rows, write subOntDiffMap.txt / sourceOntDiffMap.txt and exit
non-zero.
"""

from __future__ import annotations

import argparse
import glob
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)
os.environ["PYTHONPATH"] = REPO + os.pathsep + os.environ.get("PYTHONPATH", "")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("-source-ontology", dest="source_ontology", required=True)
    ap.add_argument("-input-subset", dest="input_subset", required=True)
    ap.add_argument("-output-path", dest="output_path", required=True)
    ap.add_argument("-output-rf2", dest="output_rf2", action="store_true")
    ap.add_argument("-rf2-snapshot-dir", dest="rf2_snapshot_dir", default=None)
    ap.add_argument("-verify-subontology", dest="verify", action="store_true")
    ap.add_argument(
        "-rf2-date",
        dest="rf2_date",
        default=None,
        help="yyyyMMdd stamp for RF2 file names (default: today, matching "
        "the reference's SIMPLE_DATE_FORMAT at RF2Printer.java:30,206)",
    )
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    args = ap.parse_args()
    import datetime as _dt

    rf2_date = args.rf2_date or _dt.date.today().strftime("%Y%m%d")

    from pyspark.sql import functions as F

    from subont.owl_io import load_functional, render_annotations_df, render_axioms
    from subont.pipeline import compute_subontology, defs_to_axioms
    from subont.rf2 import (
        owl_refset_rows,
        relationship_rf2_files,
        triples_from_nnf,
        write_rf2_named,
    )
    from subont.rf2_extract import extract_rf2_snapshot, read_rf2_zip, write_owl_rf2_zip
    from subont.rf2_io import expand_subset, isa_pairs_from_relationships, load_subset, read_rf2_tsv
    from subont.session import get_spark
    from subont.verify import verify_focus_equivalence, verify_transitive_closure_equal

    t0 = time.time()

    spark = get_spark("subont-extraction", cores=args.cores)
    ont = load_functional(spark, args.source_ontology)
    subset = load_subset(spark, args.input_subset)

    # a zipped RF2 archive is accepted like the reference
    # (SubontologyExtraction.java:72-79); exploded to a temp dir
    snapshot_dir = args.rf2_snapshot_dir
    if snapshot_dir and snapshot_dir.endswith(".zip"):
        snapshot_dir = read_rf2_zip(snapshot_dir)

    # << descendants expansion needs the snapshot's inferred IS-A rows
    if snapshot_dir and not subset.filter(F.col("with_descendants")).isEmpty():
        rel_path = sorted(
            glob.glob(os.path.join(snapshot_dir, "**", "sct2_Relationship_*"), recursive=True)
            + glob.glob(os.path.join(snapshot_dir, "sct2_Relationship_*"))
        )[0]
        pairs = isa_pairs_from_relationships(read_rf2_tsv(spark, rel_path, active_only=False))
        focus = expand_subset(subset, pairs)
    else:
        focus = subset.select("concept_id")

    res = compute_subontology(spark, ont, focus, compute_rf2=args.output_rf2)

    os.makedirs(args.output_path, exist_ok=True)
    with open(os.path.join(args.output_path, "subOntology.owl"), "w") as f:
        anno_lines = sorted(r["expr"] for r in render_annotations_df(res.sub).collect())
        for line in render_axioms(res.sub) + anno_lines:
            f.write(line + "\n")

    if args.output_rf2:
        # subOntologyNNFs.owl (SubontologyExtraction.java:137): NNF rows
        # rendered as a ⊑-only ontology next to subOntology.owl
        from dataclasses import replace as _replace

        nnf_ont = _replace(
            res.sub, axioms=defs_to_axioms(res.nnf_rows), subprops=res.prop_defs,
            annotations=res.sub.annotations.limit(0),
        )
        with open(os.path.join(args.output_path, "subOntologyNNFs.owl"), "w") as f:
            for line in render_axioms(nnf_ont):
                f.write(line + "\n")

        triples = triples_from_nnf(res.nnf_rows, res.prop_defs, res.sub)
        rf2_dir = os.path.join(args.output_path, "RF2", "Snapshot", "Terminology")
        # both relationship files, reference names + shared id sequence
        # (RF2Printer.java:206-216; the concrete file is always created,
        # header-only when the ontology carries no concrete values)
        standard, concrete = relationship_rf2_files(triples)
        write_rf2_named(
            standard, rf2_dir, f"sct2_Relationship_Snapshot_INT_{rf2_date}.txt"
        )
        write_rf2_named(
            concrete, rf2_dir, f"sct2_RelationshipConcreteValues_Snapshot_INT_{rf2_date}.txt"
        )
        # OWL expression refset lives under Snapshot/Terminology/ like
        # every reference writer (RF2ExtractionWriter.java:70-74,
        # OWLtoRF2Service.java:195) — NOT under Refset/.  When a source
        # snapshot archive is provided, the reference's RF2 tree gets
        # this file from the gated extraction (RF2ExtractionWriter);
        # the subontology-derived rows are written standalone only when
        # no snapshot is available (no reference counterpart, kept as a
        # documented convenience).
        if not snapshot_dir:
            write_rf2_named(
                owl_refset_rows(res.sub),
                rf2_dir,
                f"sct2_sRefset_OWLExpressionSnapshot_INT_{rf2_date}.txt",
            )
        # browser RF2 from the subontology's labels/axioms (OWLtoRF2Service)
        write_owl_rf2_zip(res.sub, os.path.join(args.output_path, "debug_OWLRefset.zip"))
        if snapshot_dir:
            # S7: full five-file signature-filtered extraction
            extract_rf2_snapshot(
                spark, snapshot_dir, res.entity_ids,
                os.path.join(args.output_path, "RF2"), date=rf2_date,
            )

    rc = 0
    if args.verify:
        d1 = verify_focus_equivalence(ont, res.src_cl, res.sub, res.sub_cl, res.focus)
        d2 = verify_transitive_closure_equal(res.src_cl, res.sub_cl, res.sub.class_signature())
        for name, d in [("V1 focus equivalence", d1), ("V2 closure equality", d2)]:
            rows = d.collect()
            if rows:
                print(f"VERIFICATION FAILED — {name}:")
                for r in rows[:50]:
                    print("  ", r)
                rc = 1
            else:
                print(f"verified: {name}")
        if rc:
            # failure report files, MapPrinter parity
            # (SubontologyExtraction.java:165-169: subOntDiffMap.txt /
            # sourceOntDiffMap.txt list the per-class closure diffs)
            diffs = d2.collect()
            for side, fname in [
                ("subontology_only", "subOntDiffMap.txt"),
                ("source_only", "sourceOntDiffMap.txt"),
            ]:
                by_parent: dict = {}
                for r in diffs:
                    if r.side == side:
                        by_parent.setdefault(r.parent, []).append(r.child)
                with open(os.path.join(args.output_path, fname), "w") as f:
                    for parent in sorted(by_parent):
                        f.write(f"{parent}\t{sorted(by_parent[parent])}\n")

    print(f"done in {time.time() - t0:.1f}s → {args.output_path}")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
