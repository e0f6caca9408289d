"""The benchmark's workloads: inputs made from a seed, one timed pass,
and the untimed output checks.

Every pass drives only public ``subont`` entry points, looked up on their
module at call time so that a traced run sees its wrappers.

* ``kg`` -- corpus -> knowledge graph on both sides of the local-KG size
  gate (``subont.kg._LOCAL_KG_MAX_STMTS``, 300k statements): a pass builds
  the KG of a small corpus (in-process assembly) and of a larger one
  (distributed plan).  The corpora are ``synth_corpus`` tables written
  to parquet once per seed and read back.  ``synth_corpus`` has no seed
  parameter, so the seed enters through ``n_concepts = files // 4 +
  seed``, which moves every statement target and keeps the shape.
* ``subont_extract`` -- the reference computation: classify a
  ``synthetic_ontology``, extract the subontology of the focus concepts
  2..10, write ``subOntology.owl`` and the two RF2 relationship files.
  The pass costs one job set per definition-expansion round (about 100
  jobs each), and the round count is a property of the ontology's
  structure: with a seed-generated ontology it ranged from 1 to 4 and
  the pass time spread 44% across seeds.  So the ontology is the
  generator's default (seed 0, one expansion round for this focus set),
  stored as parquet, and ``--seed`` draws the physical row order of
  every stored table.  The output must not depend on that order, so all
  seeds share one recorded digest.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import shutil
from contextlib import nullcontext

IS_A = 116680003  # subont.model.IS_A, repeated so the checks do not trust the program

KG_FILES = {"local": 30_000, "dist": 80_000}
KG_FILLER_WORDS = 32
KG_SPLIT_BYTES = 1024 * 1024  # scan splits >= cores for the Arrow extraction stage
ONT_CONCEPTS = 2_000
ONT_GEN_SEED = 0  # synthetic_ontology's default
ONT_FOCUS = range(2, 11)
RF2_FILES = (
    "sct2_Relationship_Snapshot_INT_00000000.txt",
    "sct2_RelationshipConcreteValues_Snapshot_INT_00000000.txt",
)


def _span(tracer, layer: str, name: str):
    return tracer.span(layer, name) if tracer is not None else nullcontext()


def _line_digest(lines) -> str:
    """Order-free digest of a multiset of text lines."""
    acc, n = 0, 0
    for line in lines:
        h = hashlib.blake2b(line.encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(h, "little")) % (1 << 64)
        n += 1
    return f"{n}:{acc:016x}"


def isa_cycle(edges) -> bool:
    """True when the (child, parent) edge list has a cycle (Kahn)."""
    succ: dict = {}
    indeg: dict = {}
    for c, p in edges:
        succ.setdefault(c, []).append(p)
        indeg[p] = indeg.get(p, 0) + 1
        indeg.setdefault(c, 0)
    todo = [v for v, d in indeg.items() if d == 0]
    seen = 0
    while todo:
        v = todo.pop()
        seen += 1
        for w in succ.get(v, ()):
            indeg[w] -= 1
            if indeg[w] == 0:
                todo.append(w)
    return seen != len(indeg)


def triple_problems(rows, n_reported: int) -> list[str]:
    """Invariants of a triple set given as (subj, pred, obj, group) rows."""
    problems = []
    if not rows:
        problems.append("no rows")
    if len(rows) != n_reported:
        problems.append(f"row count {len(rows)} != reported {n_reported}")
    if len(set(rows)) != len(rows):
        problems.append(f"{len(rows) - len(set(rows))} duplicate rows")
    isa = [(s, o) for s, p, o, _ in rows if p == IS_A]
    loops = sum(1 for s, o in isa if s == o)
    if loops:
        problems.append(f"{loops} IS-A self-loops")
    if isa_cycle(isa):
        problems.append("IS-A graph has a cycle")
    return problems


class KG:
    name = "kg"
    min_passes = 2  # the first pass is cold; pass_s needs a warm one

    def __init__(self, files: dict[str, int] = KG_FILES):
        self.files = files

    def key(self, seed: int) -> str:
        sizes = ",".join(f"{s}={n}" for s, n in self.files.items())
        return f"kg/{sizes},filler={KG_FILLER_WORDS}/seed={seed}"

    def session_kwargs(self) -> dict:
        return {"max_partition_bytes": KG_SPLIT_BYTES}

    def _path(self, work: str, side: str, seed: int) -> str:
        n = self.files[side]
        return os.path.join(work, "inputs", f"corpus_{n}_c{n // 4 + seed}")

    def prepare(self, spark, seed: int, work: str) -> None:
        """Write each corpus to parquet once per (size, seed)."""
        from subont.corpus import synth_corpus

        for side, n in self.files.items():
            path = self._path(work, side, seed)
            if os.path.exists(os.path.join(path, "_SUCCESS")):
                continue
            synth_corpus(
                spark,
                n_files=n,
                n_concepts=n // 4 + seed,
                statements_per_file=4,
                filler_words=KG_FILLER_WORDS,
                partitions=16,
            ).write.mode("overwrite").parquet(path)

    def load(self, spark, seed: int, work: str):
        out = []
        for side in self.files:
            src = spark.read.parquet(self._path(work, side, seed))
            src.count()
            out.append((side, src))
        return out

    def run_pass(self, spark, inp, tracer=None):
        from subont import kg

        out = []
        for side, src in inp:
            with _span(tracer, "side", side):
                res = kg.build_kg(spark, src)
                with _span(tracer, "kg", "triples"):  # lazy local surfaces build here
                    triples = res.triples
                with _span(tracer, "materialize", "count"):
                    n = triples.count()
            out.append((side, triples, n))
        return out

    def output_rows(self, out) -> int:
        return sum(n for _, _, n in out)

    def digest(self, out) -> dict:
        from pyspark.sql import functions as F

        dig = {}
        for side, triples, n in out:
            h = F.xxhash64("subj", "pred", "obj", "rel_group").cast("decimal(38,0)")
            cnt, tot = triples.agg(F.count(F.lit(1)), F.sum(h)).first()
            if cnt != n:
                raise ValueError(f"{side}: count {cnt} != pass count {n}")
            dig[side] = f"{cnt}:{int(tot or 0) % (1 << 64):016x}"
        return dig

    def problems(self, out) -> list[str]:
        probs = []
        for side, triples, n in out:
            pdf = triples.select("subj", "pred", "obj", "rel_group").toPandas()
            rows = list(pdf.itertuples(index=False, name=None))
            probs += [f"{side}: {p}" for p in triple_problems(rows, n)]
        return probs

    def record_problems(self, spark, inp, out) -> list[str]:
        return []


class SubontExtract:
    name = "subont_extract"
    min_passes = 1  # one pass (~1 min, scheduler-bound) fills the window

    def __init__(self, n_concepts: int = ONT_CONCEPTS, focus=ONT_FOCUS):
        self.n_concepts = n_concepts
        self.focus = list(focus)

    def key(self, seed: int) -> str:
        # the seed reorders the stored rows only: one digest for every seed
        return f"subont_extract/n={self.n_concepts},gen_seed={ONT_GEN_SEED},focus={self.focus}"

    def session_kwargs(self) -> dict:
        return {}

    def _path(self, work: str, seed: int | None) -> str:
        tag = "generated" if seed is None else f"s{seed}"
        return os.path.join(work, "inputs", f"ontology_{self.n_concepts}_g{ONT_GEN_SEED}_{tag}")

    def _write(self, tables: dict, path: str, seed: int | None) -> None:
        from pyspark.sql import functions as F

        for name, df in tables.items():
            if seed is not None:
                df = df.coalesce(1).sortWithinPartitions(F.rand(seed))
            df.write.mode("overwrite").parquet(os.path.join(path, name))
            with open(os.path.join(path, name + ".schema.json"), "w") as fh:
                fh.write(df.schema.json())
        open(os.path.join(path, "_DONE"), "w").close()

    def prepare(self, spark, seed: int, work: str) -> None:
        """Store every table of the ontology as parquet once per seed, its
        rows in an order drawn from the seed.  The generated tables are
        stored once, unshuffled, and every seed's copy is made from them."""
        from subont.synth import synthetic_ontology

        if os.path.exists(os.path.join(self._path(work, seed), "_DONE")):
            return
        gen = self._path(work, None)
        if not os.path.exists(os.path.join(gen, "_DONE")):
            ont = synthetic_ontology(spark, n_concepts=self.n_concepts, seed=ONT_GEN_SEED)
            self._write({f.name: getattr(ont, f.name) for f in dataclasses.fields(ont)}, gen, None)
        self._write(self._read(spark, gen), self._path(work, seed), seed)

    @staticmethod
    def _read(spark, path: str) -> dict:
        from pyspark.sql import types as T

        from subont.model import Ontology

        tables = {}
        for f in dataclasses.fields(Ontology):
            with open(os.path.join(path, f.name + ".schema.json")) as fh:
                schema = T.StructType.fromJson(json.load(fh))
            tables[f.name] = spark.read.schema(schema).parquet(os.path.join(path, f.name))
        return tables

    def load(self, spark, seed: int, work: str):
        from subont.model import Ontology

        ont = Ontology(**self._read(spark, self._path(work, seed)))
        focus = spark.createDataFrame([(c,) for c in self.focus], "concept_id long")
        out_dir = os.path.join(work, "out", str(os.getpid()))
        return ont, focus, out_dir

    def run_pass(self, spark, inp, tracer=None):
        from subont import closure, owl_io, pipeline, rf2

        ont, focus, out_dir = inp
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir)
        cl = closure.classify(ont)
        res = pipeline.compute_subontology(spark, ont, focus, compute_rf2=False, src_cl=cl)
        lines = owl_io.render_axioms(res.sub)
        owl_path = os.path.join(out_dir, "subOntology.owl")
        with _span(tracer, "materialize", "write_owl"):
            with open(owl_path, "w") as f:
                f.write("\n".join(lines) + "\n")
        triples = rf2.triples_from_nnf(res.nnf_rows, res.prop_defs, res.sub)
        standard, concrete = rf2.relationship_rf2_files(triples)
        paths = [
            rf2.write_rf2_named(standard, out_dir, RF2_FILES[0]),
            rf2.write_rf2_named(concrete, out_dir, RF2_FILES[1]),
        ]
        return {"res": res, "focus": focus, "owl": owl_path, "rf2": paths}

    @staticmethod
    def _rf2_rows(path: str) -> list[dict]:
        with open(path) as f:
            header = f.readline().rstrip("\n").split("\t")
            return [dict(zip(header, line.rstrip("\n").split("\t"))) for line in f]

    def output_rows(self, out) -> int:
        return sum(len(self._rf2_rows(p)) for p in out["rf2"])

    def digest(self, out) -> dict:
        dig = {}
        for p in [out["owl"], *out["rf2"]]:
            with open(p) as f:
                dig[os.path.basename(p)] = _line_digest(line.rstrip("\n") for line in f)
        return dig

    def problems(self, out) -> list[str]:
        rows = [r for p in out["rf2"] for r in self._rf2_rows(p)]
        quads = [
            (r["sourceId"], int(r["typeId"]), r.get("destinationId", r.get("value")), r["relationshipGroup"])
            for r in rows
        ]
        probs = triple_problems(quads, len(rows))
        with open(out["owl"]) as f:
            if not f.read().strip():
                probs.append("empty subOntology.owl")
        return probs

    def record_problems(self, spark, inp, out) -> list[str]:
        """The paper's two criteria; run once, when a digest is recorded."""
        from subont.verify import verify_focus_equivalence, verify_transitive_closure_equal

        ont, focus, _ = inp
        res = out["res"]
        probs = []
        v1 = verify_focus_equivalence(ont, res.src_cl, res.sub, res.sub_cl, focus)
        if not v1.isEmpty():
            probs.append(f"focus equivalence differs: {v1.limit(5).collect()}")
        v2 = verify_transitive_closure_equal(res.src_cl, res.sub_cl, res.sub.class_signature())
        if not v2.isEmpty():
            probs.append(f"transitive closure differs: {v2.limit(5).collect()}")
        return probs


WORKLOADS = {w.name: w for w in (KG, SubontExtract)}


def load_expected(path: str) -> dict:
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)
