"""Corpus → knowledge-graph triples, end to end (the north-rule pipeline).

Stages (each one a resumable DataFrame job; lineage recorded by
subont.lineage):

1. extract   — pandas-UDF statement/mention detection + link scoring
2. canon     — salted connected-components entity canonicalization
3. assemble  — canonical statements → concept table + stated IS-A edge
               table + attribute (PV-like) triples
4. closure   — semi-naive transitive closure of IS-A (subont.closure)
5. material  — RF2-style (subj, pred, obj, group) triple table:
               direct (non-redundant) IS-A rows — the NNF 'nearest
               parent' semantics of the reference
               (DefinitionGeneratorNNF.java:24-78) — plus attribute rows
               de-duplicated per (subj, role) to the most specific filler
               (eliminateWeakerClasses applied to fillers,
               OntologyReasoningService.java:143-157)

Entity ids: content hashes (xxhash64 of canonical surface form) — stable
across runs, partitions and resumes.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .canon import canonical_map, canonicalize_statements, entity_id
from .closure import derive_direct_edges, transitive_closure
from .extract import extract_statements
from .model import IS_A
from .reduce import eliminate_weaker

MENTIONS_PRED = 900000000000999999  # synthetic "mentioned-in" predicate id


@dataclass
class KGResult:
    statements: DataFrame     # canonicalized statements
    concepts: DataFrame       # (concept_id, ent)
    isa_direct: DataFrame     # stated (child, parent) after canon
    isa_closure: DataFrame    # (desc, anc)
    triples: DataFrame        # (subj, pred, obj, rel_group)


def role_id(col):
    return F.xxhash64(F.concat(F.lit("role|"), col))


# ---------------------------------------------------------------------------
# Local assembly kernel — the round-5 size-gated pattern applied to the
# whole post-extraction KG assembly.  At bench scale the distributed
# assembly is ~20 sequential sub-second jobs (probe collects, cache
# materializations, AQE stages) whose scheduler latency IS the wall
# clock; below the gate the statement table fits on the driver and the
# canonicalization / closure / direct-edge / filler-reduction chain is a
# few hundred ms of dict work.  Everything above the gate (or with
# SUBONT_LOCAL_KG=off) runs the distributed plan unchanged — the 100 TB
# path.  Equivalence of the two paths is gated in tests/test_kg.py.
# ---------------------------------------------------------------------------

_LOCAL_KG_MAX_STMTS = int(os.environ.get("SUBONT_LOCAL_KG_MAX_STMTS", "300000"))


class _LazyKGResult:
    """Attribute-compatible KGResult twin whose DataFrame surfaces are
    built on FIRST ACCESS.  The headline consumer (q_kg_corpus) reads
    only the string-level triple rows (``trip_names``), so
    the other surfaces' plan construction — ~470 py4j round-trips +
    createDataFrame/parquet shipping, ~0.2 s measured at bench scale —
    runs only for consumers that actually touch them (guide §1.2: don't
    compute things you throw away)."""

    def __init__(self, thunks: dict, trip_names: list):
        self._thunks = thunks
        self.trip_names = trip_names

    def __getattr__(self, name: str):
        thunks = self.__dict__["_thunks"]
        if name in thunks:
            val = thunks[name]()
            setattr(self, name, val)  # memoize: each surface built once
            return val
        raise AttributeError(name)


def _local_kg(spark: SparkSession, pdf):
    """In-process twin of the distributed assembly over a collected
    statement table.  Returns None when an internal work cap trips
    (caller falls back to the distributed plan).  The row work is
    pandas/numpy-vectorized (guide §4.2) and the result surfaces are
    lazy (_LazyKGResult)."""
    import numpy as np
    import pandas as pd

    from .canon import _union_find
    from .closure import _LOCAL_TC_MAX_PAIRS, _direct_map, _local_close
    from .reduce import reduce_sets
    from .util import ship_local_table

    stype_s = pdf["stype"]
    stype_np = stype_s.to_numpy()

    # --- canonical map: lexical-root contraction + union-find over the
    # residual cross-root same() edges (twin of canon.canonical_map);
    # roots come from one vectorized str.replace over the distinct
    # entity set rather than a per-entity python regex match ---
    ents_s = pd.Series(
        pd.unique(pd.concat([pdf["arg1"], pdf["arg2"]], ignore_index=True))
    )
    roots_s = ents_s.str.replace(r"^(C\d+)_a\d+$", r"\1", regex=True)
    roots = dict(zip(ents_s, roots_s))
    same_mask = stype_np == "same"
    comp = _union_find(
        (roots[a], roots[b])
        for a, b in zip(pdf["arg1"].to_numpy()[same_mask], pdf["arg2"].to_numpy()[same_mask])
        if roots[a] != roots[b]
    )
    comp_members: dict = {}
    for e, r in zip(ents_s, roots_s):
        c = comp.get(r, r)
        comp_members.setdefault(c, []).append(e)
    cmap: dict = {}
    for ms in comp_members.values():
        # rep preference: canonical lexical form (no _a), then greatest
        # entity string — same (is_canon, ent) max as canonical_map
        rep = max(ms, key=lambda e: ("_a" not in e, e))
        for e in ms:
            cmap[e] = rep
    c1_s = pdf["arg1"].map(cmap)
    c2_s = pdf["arg2"].map(cmap)
    c1_np = c1_s.to_numpy()
    c2_np = c2_s.to_numpy()

    # --- stated IS-A edges + transitive closure (strict) ---
    isa_mask = stype_np == "isa"
    ia, ib = c1_np[isa_mask], c2_np[isa_mask]
    ne = ia != ib
    edge_pdf = pd.DataFrame({"a": ia[ne], "b": ib[ne]}).drop_duplicates()
    parents: dict = {}
    for a, b in zip(edge_pdf["a"].to_numpy(), edge_pdf["b"].to_numpy()):
        parents.setdefault(a, set()).add(b)
    anc = _local_close(parents, _LOCAL_TC_MAX_PAIRS)
    if anc is None:
        return None

    # --- direct (non-redundant) edges: witness sweep over stated edges ---
    direct = _direct_map(anc, ((a, b) for a, ps in parents.items() for b in ps))
    if direct is None:
        return None

    # --- attribute triples, most-specific filler per (subj, role) ---
    # a role-less attr() reads back as None or NaN; distinct NaN objects
    # hash apart, so normalize to None before grouping on (subj, role)
    role = [None if r is None or r != r else r for r in pdf["role"].tolist()]
    attr_mask = stype_np == "attr"
    attr_pdf = pd.DataFrame(
        {
            "a": c1_np[attr_mask],
            "r": np.array(role, dtype=object)[attr_mask],
            "b": c2_np[attr_mask],
        }
    ).drop_duplicates()
    by_sr: dict = {}
    for a, r, b in zip(
        attr_pdf["a"].to_numpy(), attr_pdf["r"].to_numpy(), attr_pdf["b"].to_numpy()
    ):
        by_sr.setdefault((a, r), set()).add(b)
    # keep each set's most specific fillers (eliminate_weaker in memory)
    attr_reduced = [(a, r, b) for (a, r), kept in reduce_sets(by_sr, anc).items() for b in kept]

    # tuple sort is None-safe here: 'attr' < 'isa' decides first, and
    # role is None only within the isa group (compared equal, skipped)
    trip_rows = [("isa", d, None, a) for d, s in direct.items() for a in s] + [
        ("attr", a, r, b) for a, r, b in attr_reduced
    ]

    # --- the five surfaces, shipped back LAZILY on first access ---
    def _df(rows, schema, sort=True):
        if sort:
            rows = sorted(rows)
        if not rows:
            return spark.createDataFrame([], schema)
        names = [f.split(" ")[0] for f in schema.split(", ")]
        if len(rows) >= 20000:
            import pyarrow as pa

            cols = list(zip(*rows))
            tbl = pa.table({n: pa.array(c) for n, c in zip(names, cols)})
            return ship_local_table(spark, tbl, schema)
        # pandas → Arrow local relation: the list-of-tuples form goes
        # through per-row pickling (~0.1-0.2 s per call at bench scale)
        return spark.createDataFrame(pd.DataFrame(rows, columns=names), schema=schema)

    def _statements():
        import pyarrow as pa

        stmt_schema = (
            "repo string, path string, commit string, stype string, "
            "arg1 string, role string, arg2 string, score double"
        )
        stmt_tbl = pa.table(
            {
                "repo": pa.array(pdf["repo"].tolist(), pa.string()),
                "path": pa.array(pdf["path"].tolist(), pa.string()),
                "commit": pa.array(pdf["commit"].tolist(), pa.string()),
                "stype": pa.array(stype_np.tolist(), pa.string()),
                "arg1": pa.array(c1_s.tolist(), pa.string()),
                "role": pa.array(role, pa.string()),
                "arg2": pa.array(c2_s.tolist(), pa.string()),
                "score": pa.array(pdf["score"].tolist(), pa.float64()),
            }
        )
        return ship_local_table(spark, stmt_tbl, stmt_schema)

    def _concepts():
        return _df([(e,) for e in set(c1_np) | set(c2_np)], "ent string").withColumn(
            "concept_id", entity_id(F.col("ent"))
        )

    def _isa_edges():
        edge_rows = [(a, b) for a, ps in parents.items() for b in ps]
        return _df(edge_rows, "child_ent string, parent_ent string").select(
            entity_id(F.col("child_ent")).alias("child"),
            entity_id(F.col("parent_ent")).alias("parent"),
        )

    def _closure():
        clo_rows = [(d, a) for d, s in anc.items() for a in s]
        return _df(clo_rows, "desc_ent string, anc_ent string").select(
            entity_id(F.col("desc_ent")).alias("desc"),
            entity_id(F.col("anc_ent")).alias("anc"),
        )

    def _triples():
        trip_str = _df(
            trip_rows, "stype string, subj_ent string, role string, obj_ent string"
        )
        triples = trip_str.select(
            entity_id(F.col("subj_ent")).alias("subj"),
            F.when(F.col("stype") == "isa", F.lit(IS_A).cast("long"))
            .otherwise(role_id(F.col("role")))
            .alias("pred"),
            entity_id(F.col("obj_ent")).alias("obj"),
            F.lit(0).alias("rel_group"),
        )
        return triples

    return _LazyKGResult(
        {
            "statements": _statements,
            "concepts": _concepts,
            "isa_direct": _isa_edges,
            "isa_closure": _closure,
            "triples": _triples,
        },
        trip_rows,
    )


def build_kg(
    spark: SparkSession, src: DataFrame, min_score: float = 0.5
) -> KGResult | _LazyKGResult:
    # one materialization, not three: the extraction scan (the python
    # stage) is materialized once; the canonical map is broadcast-sized;
    # the canonicalized view is two broadcast joins over the stored
    # statements — re-evaluating it per consumer is cheaper than another
    # full materialization of the statement volume.
    #
    # Store choice: columnar persist (InMemoryRelation), NOT
    # localCheckpoint — the row-based checkpoint store of the fat
    # provenance strings was the measured anti-scaling cost (compressed
    # columnar is ~10× smaller to write and 4× faster to re-scan; at
    # cluster scale this is the same choice as caching the extraction
    # output serialized).
    from pyspark import StorageLevel

    from .util import plan_leaf

    stmts = extract_statements(src, min_score=min_score).persist(StorageLevel.MEMORY_AND_DISK)
    n_stmts = stmts.count()  # materialize eagerly (like the checkpoint it replaces)
    if (
        os.environ.get("SUBONT_LOCAL_KG", "auto") != "off"
        and n_stmts <= _LOCAL_KG_MAX_STMTS
    ):
        local = _local_kg(spark, stmts.toPandas())
        if local is not None:
            stmts.unpersist()
            return local
    # consumer plans reference the statement store many times; rewrap the
    # persisted relation as a stats-free leaf so each of them carries a
    # one-node scan instead of the full extraction tree (whose
    # per-consumer re-analysis/canonicalization was ~0.5 s each at bench
    # scale — guide §3.3 "materialising an intermediate truncates the
    # plan", without giving up the columnar cache)
    stmts = plan_leaf(stmts)
    cmap = canonical_map(stmts).persist()
    canon = canonicalize_statements(stmts, cmap)

    # the concept dimension is broadcast-sized (distinct canonical
    # surface forms); materialize it ONCE — downstream name joins
    # (subject + object sides) otherwise re-derive the distinct over the
    # statement store per consumer.  persist() (not localCheckpoint):
    # lazy checkpoint pays physical planning + codegen eagerly at
    # DEFINITION time (~1 s per call measured) for the same reuse.
    concepts = (
        canon.select(F.explode(F.array("arg1", "arg2")).alias("ent"))
        .distinct()
        .withColumn("concept_id", entity_id(F.col("ent")))
        .persist()
    )

    # the edge relation is the `hop` side of EVERY closure round and the
    # witness side of direct-edge derivation — materialize it once
    # instead of re-deriving (scan + 2 broadcast joins + distinct)
    isa_edges = (
        canon.filter(F.col("stype") == "isa")
        .select(entity_id(F.col("arg1")).alias("child"), entity_id(F.col("arg2")).alias("parent"))
        .filter(F.col("child") != F.col("parent"))
        .distinct()
        .persist()
    )
    closure = transitive_closure(isa_edges)
    direct = derive_direct_edges(closure, edges=isa_edges)

    attr = (
        canon.filter(F.col("stype") == "attr")
        .select(
            entity_id(F.col("arg1")).alias("subj"),
            role_id(F.col("role")).alias("pred"),
            entity_id(F.col("arg2")).alias("obj"),
        )
        .distinct()
        .persist()
    )
    # most-specific filler per (subj, pred): antichain reduction over the
    # IS-A closure, the reference's PV redundancy elimination semantics
    attr_reduced = eliminate_weaker(
        attr.select(F.xxhash64("subj", "pred").alias("set_id"), F.col("obj").alias("cls"), "subj", "pred"),
        closure,
    ).select("subj", "pred", F.col("cls").alias("obj"))

    triples = (
        direct.select(
            F.col("child").alias("subj"),
            F.lit(IS_A).cast("long").alias("pred"),
            F.col("parent").alias("obj"),
            F.lit(0).alias("rel_group"),
        )
        .unionByName(attr_reduced.withColumn("rel_group", F.lit(0)))
        .distinct()
    )
    return KGResult(
        statements=canon,
        concepts=concepts,
        isa_direct=isa_edges,
        isa_closure=closure,
        triples=triples,
    )


def build_kg_resumable(spark: SparkSession, src: DataFrame, workdir: str, min_score: float = 0.5):
    """Checkpointed variant of build_kg: every stage goes through
    subont.lineage.StageRunner — killed runs resume from the last
    completed stage with identical output (content-hash ids).

    Returns (triples DataFrame, StageRunner) — runner.metrics() has the
    per-stage rows/wall/partition lineage."""
    from .lineage import StageRunner

    runner = StageRunner(spark, workdir)
    stmts = runner.run("01_statements", lambda: extract_statements(src, min_score=min_score))
    cmap = runner.run("02_canonical_map", lambda: canonical_map(stmts), ["01_statements"])
    canon = runner.run(
        "03_canon_statements", lambda: canonicalize_statements(stmts, cmap), ["01_statements", "02_canonical_map"]
    )

    def _isa_edges():
        return (
            canon.filter(F.col("stype") == "isa")
            .select(entity_id(F.col("arg1")).alias("child"), entity_id(F.col("arg2")).alias("parent"))
            .filter(F.col("child") != F.col("parent"))
            .distinct()
            .localCheckpoint(eager=False)
        )

    def _closure():
        return transitive_closure(_isa_edges())

    closure = runner.run("04_isa_closure", _closure, ["03_canon_statements"])

    def _triples():
        direct = derive_direct_edges(closure, edges=_isa_edges())
        attr = (
            canon.filter(F.col("stype") == "attr")
            .select(
                entity_id(F.col("arg1")).alias("subj"),
                role_id(F.col("role")).alias("pred"),
                entity_id(F.col("arg2")).alias("obj"),
            )
            .distinct()
        )
        attr_reduced = eliminate_weaker(
            attr.select(
                F.xxhash64("subj", "pred").alias("set_id"), F.col("obj").alias("cls"), "subj", "pred"
            ),
            closure,
        ).select("subj", "pred", F.col("cls").alias("obj"))
        return (
            direct.select(
                F.col("child").alias("subj"),
                F.lit(IS_A).cast("long").alias("pred"),
                F.col("parent").alias("obj"),
                F.lit(0).alias("rel_group"),
            )
            .unionByName(attr_reduced.withColumn("rel_group", F.lit(0)))
            .distinct()
        )

    triples = runner.run("05_triples", _triples, ["03_canon_statements", "04_isa_closure"])
    return triples, runner
