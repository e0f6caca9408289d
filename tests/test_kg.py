"""Corpus→KG pipeline vs an independent pure-Python oracle.

The oracle re-parses the generated contents with its own regex, runs
union-find canonicalization and a dict-based transitive closure — a
different algorithm family than the distributed pipeline (CC star joins
+ semi-naive closure), so agreement is meaningful."""

import re

import pyspark.sql.functions as F

from subont.corpus import synth_corpus
from subont.kg import build_kg
from subont.model import IS_A

STMT = re.compile(r"(isa|attr|same)\((C\d+(?:_a\d+)?)(?:, (R\d+))?, (C\d+(?:_a\d+)?)\)")


class UF:
    def __init__(self):
        self.p = {}

    def find(self, x):
        self.p.setdefault(x, x)
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[ra] = rb


def oracle(contents):
    stmts = []
    ents = set()
    for text in contents:
        for m in STMT.finditer(text):
            stype, a1, role, a2 = m.groups()
            stmts.append((stype, a1, role, a2))
            ents.update([a1, a2])
    uf = UF()
    for e in ents:
        mm = re.match(r"^(C\d+)_a\d+$", e)
        root = mm.group(1) if mm else e
        # every surface form glues through its lexical root (virtual
        # node), even if the root surface form is never mentioned
        uf.union(e, "\x00root:" + root)
    for stype, a1, _, a2 in stmts:
        if stype == "same":
            uf.union(a1, a2)
    # canonical rep: prefer no-alias form, then max string (matches the
    # engine's (is_canon, ent) struct-max tie-break)
    groups = {}
    for e in ents:  # rep pool = mentioned surface forms only
        groups.setdefault(uf.find(e), []).append(e)
    rep = {}
    for members in groups.values():
        best = max(members, key=lambda s: (0 if "_a" in s else 1, s))
        for e in members:
            rep[e] = best
    isa_edges = set()
    attrs = set()
    for stype, a1, role, a2 in stmts:
        c1, c2 = rep[a1], rep[a2]
        if stype == "isa" and c1 != c2:
            isa_edges.add((c1, c2))
        elif stype == "attr":
            attrs.add((c1, role, c2))
    # closure + direct (naive floyd-ish over small graph)
    closure = set(isa_edges)
    changed = True
    while changed:
        changed = False
        for (a, b) in list(closure):
            for (c, d) in list(closure):
                if b == c and (a, d) not in closure and a != d:
                    closure.add((a, d))
                    changed = True
    direct = {
        (a, b)
        for (a, b) in closure
        if not any((a, z) in closure and (z, b) in closure for z in {x[1] for x in closure})
    }
    # most-specific attr filler per (subj, role)
    reduced_attrs = set()
    for (s, r, o) in attrs:
        if not any(
            (s2, r2) == (s, r) and (o2, o) in closure for (s2, r2, o2) in attrs if o2 != o
        ):
            reduced_attrs.add((s, r, o))
    return direct, reduced_attrs


def test_kg_pipeline_matches_oracle(spark):
    src = synth_corpus(spark, n_files=300, n_concepts=40)
    contents = [r.content for r in src.select("content").collect()]
    exp_isa, exp_attr = oracle(contents)

    kg = build_kg(spark, src)
    ent_name = {r.concept_id: r.ent for r in kg.concepts.collect()}
    got_isa = set()
    got_attr = set()
    for r in kg.triples.collect():
        if r.pred == IS_A:
            got_isa.add((ent_name[r.subj], ent_name[r.obj]))
        else:
            got_attr.add((ent_name[r.subj], r.pred, ent_name[r.obj]))
    assert got_isa == exp_isa
    # map oracle roles through the same hash to compare attrs
    from subont.kg import role_id
    role_map = {
        r["role"]: r["rid"]
        for r in kg.statements.filter(F.col("stype") == "attr")
        .select("role", role_id(F.col("role")).alias("rid"))
        .distinct()
        .collect()
    }
    exp_attr_ids = {(s, role_map[r], o) for (s, r, o) in exp_attr}
    assert got_attr == exp_attr_ids


def test_sha256_invariant(spark):
    src = synth_corpus(spark, n_files=500, n_concepts=50)
    bad = src.filter(F.sha2(F.col("content"), 256) != F.col("sha256")).count()
    assert bad == 0
    # invariant survives the pipeline's repartitioning
    from subont.corpus import repartition_for_scale

    rp = repartition_for_scale(src)
    bad2 = rp.filter(F.sha2(F.col("content"), 256) != F.col("sha256")).count()
    assert bad2 == 0
    assert rp.count() == 500


def test_connected_components_direct(spark):
    from subont.canon import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (5, 5), (20, 3)], "a long, b long"
    )
    comp = {r.id: r.component for r in connected_components(edges).collect()}
    assert comp[2] == 1 and comp[3] == 1 and comp[20] == 1
    assert comp[11] == 10
    assert 5 not in comp  # self-loop only → singleton


def test_canonical_cross_root_same_edges(spark):
    # a same() statement across different lexical roots must merge them
    rows = [
        ("r", "p", "c", "same", "C1_a0", None, "C2", 1.0),
        ("r", "p", "c", "isa", "C2_a1", None, "C9", 1.0),
    ]
    from subont.extract import STATEMENT_SCHEMA
    from subont.canon import canonical_map

    st = spark.createDataFrame(rows, STATEMENT_SCHEMA)
    cmap = {r.ent: r.canonical_ent for r in canonical_map(st).collect()}
    # C1_a0, C2, C2_a1 all one component; rep prefers canonical form C2
    assert cmap["C1_a0"] == "C2"
    assert cmap["C2"] == "C2"
    assert cmap["C2_a1"] == "C2"
    assert cmap["C9"] == "C9"


def test_local_kg_equals_distributed(spark, monkeypatch):
    """The local assembly kernel (collect-gated canonicalization +
    closure + direct + filler reduction) must reproduce the distributed
    plan's five surfaces exactly — on the synth corpus AND on a crafted
    corpus with cross-root same() edges (union-find path), isa chains
    with shortcuts, and redundant attr fillers."""

    def surfaces(res):
        return {
            name: sorted(map(tuple, getattr(res, name).collect()))
            for name in ["statements", "concepts", "isa_direct", "isa_closure", "triples"]
        }

    crafted = [
        "same(C1_a0, C2) ; isa(C2_a1, C9) ; attr(C3, R0, C9)",
        "isa(C9, C4) ; isa(C2, C4) ; attr(C3, R0, C4)",  # C4 filler redundant
        "isa(C5, C9) ; isa(C5, C4) ; same(C5_a0, C5_a1)",  # shortcut C5->C4
        "attr(C3, R1, C4) ; mention C7",
    ]
    crafted_src = spark.createDataFrame(
        [("r", f"p{i}", "c", "md", t, "h") for i, t in enumerate(crafted)],
        "repo string, path string, commit string, lang string, content string, sha256 string",
    )
    synth_src = synth_corpus(spark, n_files=400, n_concepts=50)
    for src in (crafted_src, synth_src):
        monkeypatch.setenv("SUBONT_LOCAL_KG", "off")
        dist = surfaces(build_kg(spark, src))
        spark.catalog.clearCache()
        monkeypatch.setenv("SUBONT_LOCAL_KG", "auto")
        loc = surfaces(build_kg(spark, src))
        spark.catalog.clearCache()
        for name in dist:
            assert dist[name] == loc[name], name


def test_connected_components_local_equals_distributed(spark, monkeypatch):
    """The union-find fast path must produce the exact star-contraction
    map on randomized graphs (including hubs, chains and singletons)."""
    import random

    from subont.canon import connected_components

    for seed in (5, 19, 43):
        rng = random.Random(seed)
        rows = [(rng.randrange(60), rng.randrange(60)) for _ in range(120)]
        edges = spark.createDataFrame(rows, "a long, b long")
        monkeypatch.setenv("SUBONT_LOCAL_CC", "off")
        dist = {(r.id, r.component) for r in connected_components(edges).collect()}
        monkeypatch.setenv("SUBONT_LOCAL_CC", "auto")
        loc = {(r.id, r.component) for r in connected_components(edges).collect()}
        assert dist == loc, seed


def test_local_kg_roleless_attr_fillers_reduce(spark, monkeypatch):
    """Two role-less attr() statements on one subject whose fillers are
    IS-A related reduce to the single most specific triple — on the
    local assembly exactly as on the distributed plan (the null role
    must group as one key, never as distinct NaN objects)."""
    src = spark.createDataFrame(
        [("r", "p0", "c", "md", "isa(C9, C4) ; attr(C3, C9) ; attr(C3, C4)", "h")],
        "repo string, path string, commit string, lang string, content string, sha256 string",
    )

    def attr_triples():
        res = build_kg(spark, src)
        rows = {tuple(r) for r in res.triples.filter(F.col("pred") != IS_A).collect()}
        spark.catalog.clearCache()
        return rows

    monkeypatch.setenv("SUBONT_LOCAL_KG", "auto")
    loc = attr_triples()
    monkeypatch.setenv("SUBONT_LOCAL_KG", "off")
    dist = attr_triples()
    assert len(loc) == 1
    assert loc == dist
