"""Closure kernel tests: semi-naive closure, direct edges, PV/equiv rules.

Models the reference's ELK usage (OntologyReasoningService.java:25-29)
on the dummy CI fixture plus synthetic chain/diamond shapes."""

import pyspark.sql.functions as F
import pytest

from subont import fixtures
import subont.closure as C
from subont.closure import classify, derive_direct_edges, transitive_closure
from subont.model import And, OntologyBuilder, Some, pv_id_for
from subont.reduce import eliminate_stronger, eliminate_weaker


def _pairs(df, a="desc", b="anc"):
    return {(r[a], r[b]) for r in df.collect()}


def test_transitive_closure_chain(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "child long, parent long")
    clo = transitive_closure(edges)
    assert _pairs(clo) == {(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)}


def test_transitive_closure_incremental(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3)], "child long, parent long")
    clo = transitive_closure(edges)
    more = spark.createDataFrame([(3, 4)], "child long, parent long")
    clo2 = transitive_closure(more, seed_closure=clo)
    assert _pairs(clo2) == {(1, 2), (1, 3), (2, 3), (1, 4), (2, 4), (3, 4)}


def test_direct_edges_skip_shortcuts(spark):
    # diamond with a redundant shortcut 1->4
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4), (1, 4)], "child long, parent long"
    )
    clo = transitive_closure(edges)
    direct = derive_direct_edges(clo)
    assert _pairs(direct, "child", "parent") == {(1, 2), (1, 3), (2, 4), (3, 4)}


def test_classify_dummy_fixture(spark):
    ont = fixtures.dummy_ontology(spark)
    cl = classify(ont)
    pv_outer = pv_id_for(Some(609096000, Some(363698007, 113331007)))
    pv_inner = pv_id_for(Some(363698007, 113331007))
    pairs = _pairs(cl.closure)
    # focus concept below its stated conjuncts and their ancestors
    assert (362969004, 404684003) in pairs
    assert (362969004, 138875005) in pairs
    assert (362969004, pv_outer) in pairs
    # pv1 not an ancestor of the focus concept (different role)
    assert (362969004, pv_inner) not in pairs
    # direct parents of focus: stated conjuncts only
    direct = _pairs(cl.direct.filter(F.col("child") == 362969004), "child", "parent")
    assert direct == {(362969004, 404684003), (362969004, pv_outer)}
    # primitivity: 362969004 defined (equivalence), others primitive
    nonprim = {r["id"] for r in cl.non_primitive.collect()}
    assert 362969004 in nonprim
    assert 404684003 not in nonprim
    assert pv_outer in nonprim  # PV names are never primitive


def test_pv_subsumption_rule(spark):
    # role s ⊑ r, filler D ⊑ C  ⟹  (∃s.D) ⊑ (∃r.C); classes below the
    # specific PV must rank below the general PV too.
    b = OntologyBuilder()
    b.add_subclass(10, Some(200, 2))   # 10 ⊑ ∃s.D
    b.add_subclass(11, Some(100, 1))   # 11 ⊑ ∃r.C
    b.add_subclass(2, 1)               # D ⊑ C
    b.add_subproperty(200, 100)        # s ⊑ r
    cl = classify(b.build(spark))
    pv_specific = pv_id_for(Some(200, 2))
    pv_general = pv_id_for(Some(100, 1))
    pairs = _pairs(cl.closure)
    assert (pv_specific, pv_general) in pairs
    assert (10, pv_general) in pairs
    assert (11, pv_specific) not in pairs


def test_equiv_intersection_rule(spark):
    # A ≡ B ⊓ ∃r.C ; X ⊑ B, X ⊑ ∃r.C  ⟹  X ⊑ A
    b = OntologyBuilder()
    b.add_equiv(5, And([1, Some(100, 2)]))
    b.add_subclass(9, And([1, Some(100, 2)]))
    cl = classify(b.build(spark))
    assert (9, 5) in _pairs(cl.closure)


def test_equiv_intersection_via_stronger_filler(spark):
    # X ⊑ B' ⊑ B and X ⊑ ∃r.C' with C' ⊑ C  ⟹  X ⊑ A ≡ B ⊓ ∃r.C
    b = OntologyBuilder()
    b.add_equiv(5, And([1, Some(100, 2)]))
    b.add_subclass(8, 1)               # B' ⊑ B
    b.add_subclass(3, 2)               # C' ⊑ C
    b.add_subclass(9, And([8, Some(100, 3)]))
    cl = classify(b.build(spark))
    assert (9, 5) in _pairs(cl.closure)


def test_chain_propagation_transitive_role(spark):
    # r transitive: X ⊑ ∃r.F, F ⊑ ∃r.G ⟹ X ⊑ ∃r.G (named)
    b = OntologyBuilder()
    b.add_subclass(10, Some(100, 20))
    b.add_subclass(20, Some(100, 30))
    b.add_subclass(11, Some(100, 30))  # names ∃r.G
    b.transitive_roles.add(100)
    cl = classify(b.build(spark))
    pv_rg = pv_id_for(Some(100, 30))
    assert (10, pv_rg) in _pairs(cl.closure)


def test_gci_name_ranking(spark):
    # GCI: B ⊓ ∃r.C ⊑ A.  X ⊑ B, X ⊑ ∃r.C ⟹ X ⊑ GCI_name ⊑ A.
    b = OntologyBuilder()
    b.add_gci(And([1, Some(100, 2)]), 7)
    b.add_subclass(9, And([1, Some(100, 2)]))
    ont = b.build(spark)
    cl = classify(ont)
    gci_name = ont.axioms.filter("is_gci").select("sub_id").head()[0]
    pairs = _pairs(cl.closure)
    assert (9, gci_name) in pairs
    assert (9, 7) in pairs


def test_eliminate_weaker_and_stronger(spark):
    closure = transitive_closure(
        spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "child long, parent long")
    )
    cand = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 2), (1, 11)], "set_id long, cls long"
    )
    weaker_removed = {
        (r["set_id"], r["cls"]) for r in eliminate_weaker(cand, closure).collect()
    }
    assert weaker_removed == {(0, 1), (1, 2), (1, 11)}
    stronger_removed = {
        (r["set_id"], r["cls"]) for r in eliminate_stronger(cand, closure).collect()
    }
    assert stronger_removed == {(0, 3), (1, 2), (1, 11)}


def test_transitive_closure_deep_chain(spark):
    # semi-naive hop = edges → rounds scale with depth; SNOMED-like
    # depth (~40) must stay well inside max_rounds and stay correct
    n = 40
    edges = spark.createDataFrame([(i, i + 1) for i in range(n)], "child long, parent long")
    clo = transitive_closure(edges)
    assert clo.count() == n * (n + 1) // 2
    assert _pairs(clo.filter("desc = 0 and anc = 40")) == {(0, 40)}


def test_semi_naive_cascade_requires_round_two(spark, monkeypatch):
    """A derivation chain that CANNOT complete in one rule round:
    round 1 derives the pv edge ∃R.D ⊑ ∃R.C (from D ⊑ C), and only then
    can R-equiv fire for X' (whose stated parent is ∃R.D).  The
    semi-naive delta path must still find X' ⊑ A.  (Distributed
    machinery forced.)"""
    from subont.model import And, OntologyBuilder, Some, pv_id_for

    monkeypatch.setenv("SUBONT_LOCAL_CLASSIFY", "off")

    b = OntologyBuilder()
    R = 100
    b.add_equiv(1, And([2, Some(R, 3)]))   # A ≡ B ⊓ ∃R.C
    b.add_subclass(4, 3)                   # D ⊑ C
    b.add_subclass(10, 2)                  # X' ⊑ B
    b.add_subclass(10, Some(R, 4))         # X' ⊑ ∃R.D
    ont = b.build(spark)
    cl = classify(ont)
    anc10 = {r.anc for r in cl.closure.filter(F.col("desc") == 10).collect()}
    assert 1 in anc10                      # the round-2 R-equiv derivation
    assert pv_id_for(Some(R, 3)) in anc10  # the round-1 R-pv derivation
    # brute-force twin agrees exactly
    cl_naive = classify(ont, naive=True)
    d = cl.closure.exceptAll(cl_naive.closure)
    d2 = cl_naive.closure.exceptAll(cl.closure)
    assert d.isEmpty() and d2.isEmpty()


def test_semi_naive_equals_naive_randomized(spark, monkeypatch):
    """Equivalence oracle over seeded random EL ontologies mixing
    subclasses, 2-conjunct equivalences, nested PVs, a transitive role
    and a role chain — the semi-naive rule evaluation must produce
    EXACTLY the naive fixpoint's closure.  Local kernel forced OFF: this
    gate exists for the DISTRIBUTED semi-naive machinery (local ≡
    distributed has its own gates below)."""
    import random

    monkeypatch.setenv("SUBONT_LOCAL_CLASSIFY", "off")

    from subont.model import And, OntologyBuilder, Some

    for seed in (11, 23, 47):
        rng = random.Random(seed)
        b = OntologyBuilder()
        R, S, T = 100, 101, 102
        b.add_subproperty(S, R)
        b.transitive_roles.add(R)
        b.role_chains.append(dict(super_role=T, left_role=T, right_role=R))
        n = 14
        for c in range(1, n):
            b.add_subclass(c, rng.randrange(c + 1, n + 1) if c + 1 <= n else n)
        for _ in range(6):
            c, f = rng.randrange(1, n), rng.randrange(1, n)
            b.add_subclass(c, Some(rng.choice([R, S, T]), f))
        for _ in range(3):
            a, c2, f = rng.randrange(1, n), rng.randrange(1, n), rng.randrange(1, n)
            if a != c2:
                b.add_equiv(a, And([c2, Some(rng.choice([R, S]), f)]))
        ont = b.build(spark)
        try:
            fast = classify(ont)
            slow = classify(ont, naive=True)
        except ValueError:
            continue  # random equivalence cycle — rejected by both paths
        assert fast.closure.exceptAll(slow.closure).isEmpty(), seed
        assert slow.closure.exceptAll(fast.closure).isEmpty(), seed

def test_delta_first_chain_equals_naive(spark, monkeypatch):
    """The delta-first R-chain variants (production tail-round path,
    normally gated behind a 2M-row closure) must produce EXACTLY the
    naive fixpoint — forced here by zeroing the size gate so every
    semi-naive round takes the three delta-first join trees."""
    import random

    from subont import closure as C
    from subont.model import And, OntologyBuilder, Some

    monkeypatch.setenv("SUBONT_LOCAL_CLASSIFY", "off")
    monkeypatch.setattr(C, "DELTA_FIRST_MIN_CLOSURE", 0)
    monkeypatch.setattr(C, "DELTA_FIRST_RATIO", 1)

    for seed in (5, 31):
        rng = random.Random(seed)
        b = OntologyBuilder()
        R, S, T = 100, 101, 102
        b.add_subproperty(S, R)
        b.transitive_roles.add(R)
        b.role_chains.append(dict(super_role=T, left_role=T, right_role=R))
        b.role_chains.append(dict(super_role=R, left_role=S, right_role=R))
        n = 14
        for c in range(1, n):
            b.add_subclass(c, rng.randrange(c + 1, n + 1) if c + 1 <= n else n)
        for _ in range(8):
            c, f = rng.randrange(1, n), rng.randrange(1, n)
            b.add_subclass(c, Some(rng.choice([R, S, T]), f))
        for _ in range(3):
            a, c2, f = rng.randrange(1, n), rng.randrange(1, n), rng.randrange(1, n)
            if a != c2:
                b.add_equiv(a, And([c2, Some(rng.choice([R, S]), f)]))
        ont = b.build(spark)
        try:
            fast = classify(ont)
            slow = classify(ont, naive=True)
        except ValueError:
            continue  # random equivalence cycle — rejected by both paths
        assert fast.closure.exceptAll(slow.closure).isEmpty(), seed
        assert slow.closure.exceptAll(fast.closure).isEmpty(), seed


def test_classify_direct_witness_equivalence(spark, monkeypatch):
    """classify derives direct edges via the GENERATING edge witness set
    (never closure ⋈ closure — the hub-skew square).  Gate: the
    witness-form result equals the brute-force self-join form, and
    TC(gen_edges) == closure, the invariant the witness argument
    rests on.  (Distributed machinery forced — the local kernel has its
    own equivalence gates.)"""
    monkeypatch.setenv("SUBONT_LOCAL_CLASSIFY", "off")
    ont = fixtures.dummy_ontology(spark)
    cl = classify(ont)
    brute = derive_direct_edges(cl.closure)  # edges=None → self-join twin
    assert cl.direct.exceptAll(brute).isEmpty()
    assert brute.exceptAll(cl.direct).isEmpty()
    tc = transitive_closure(cl.gen_edges)
    assert tc.exceptAll(cl.closure).isEmpty()
    assert cl.closure.exceptAll(tc).isEmpty()


def test_seeded_classify_direct_witness(spark, monkeypatch):
    """Incremental (seeded) classify: the seed's rule-derived closure
    pairs have no last-hop witness among the newly stated edges — the
    accumulated gen_edges (seed.gen_edges ∪ stated ∪ rule edges) must
    still make the witness-form direct edges exact.  (Distributed
    machinery forced.)"""
    monkeypatch.setenv("SUBONT_LOCAL_CLASSIFY", "off")
    b = OntologyBuilder()
    R = 100
    b.add_equiv(1, And([2, Some(R, 3)]))   # A ≡ B ⊓ ∃R.C
    b.add_subclass(4, 3)                   # D ⊑ C  → rule edge ∃R.D ⊑ ∃R.C
    b.add_subclass(10, 2)
    b.add_subclass(10, Some(R, 4))
    ont1 = b.build(spark)
    cl1 = classify(ont1)
    b.add_subclass(20, 10)                 # extension below the derived pairs
    ont2 = b.build(spark)
    cl2 = classify(ont2, seed=cl1)
    brute = derive_direct_edges(cl2.closure)
    assert cl2.direct.exceptAll(brute).isEmpty()
    assert brute.exceptAll(cl2.direct).isEmpty()
    scratch = classify(ont2)
    assert cl2.closure.exceptAll(scratch.closure).isEmpty()
    assert scratch.closure.exceptAll(cl2.closure).isEmpty()


# ---------------------------------------------------------------------------
# Local TC fast path (size-gated driver-side closure) — equivalence gates
# ---------------------------------------------------------------------------


def _tc_both_paths(spark, monkeypatch, edge_rows, seed_rows=None):
    """Run transitive_closure with the local path forced OFF and ON
    (auto engages at this size) and return both pair sets."""
    edges = spark.createDataFrame(edge_rows, "child long, parent long")
    seed = None
    if seed_rows is not None:
        seed = spark.createDataFrame(seed_rows, "desc long, anc long")
    monkeypatch.setenv("SUBONT_LOCAL_TC", "off")
    dist = _pairs(transitive_closure(edges, seed_closure=seed))
    monkeypatch.setenv("SUBONT_LOCAL_TC", "auto")
    loc_df = transitive_closure(edges, seed_closure=seed)
    if seed is None:
        # unseeded small input must actually take the local path
        assert C._get_local_anc(loc_df) is not None
    return dist, _pairs(loc_df)


def test_local_tc_equals_distributed_randomized(spark, monkeypatch):
    import random

    for seed in (3, 17, 29, 71):
        rng = random.Random(seed)
        n = 40
        rows = [(c, rng.randrange(c + 1, n + 2)) for c in range(1, n + 1) for _ in range(rng.randrange(1, 3))]
        dist, loc = _tc_both_paths(spark, monkeypatch, rows)
        assert dist == loc, seed


def test_local_tc_cycle_equals_distributed(spark, monkeypatch):
    # cycle 1<->2 plus tail — exercises the in-process semi-naive fallback
    rows = [(1, 2), (2, 1), (2, 3), (3, 4), (5, 1)]
    dist, loc = _tc_both_paths(spark, monkeypatch, rows)
    assert dist == loc
    assert (1, 2) in loc and (2, 1) in loc and (1, 3) in loc and (5, 4) in loc
    assert (1, 1) not in loc and (2, 2) not in loc  # strict


def test_local_tc_seeded_handoff_and_delta(spark, monkeypatch):
    """local → local seeded extension stays local and exact; the delta
    is a superset of the truly-new pairs and includes the new edges; a
    DISTRIBUTED seed (no attached map) keeps the call distributed."""
    monkeypatch.setenv("SUBONT_LOCAL_TC", "auto")
    e1 = spark.createDataFrame([(1, 2), (2, 3)], "child long, parent long")
    clo1 = transitive_closure(e1)
    assert C._get_local_anc(clo1)
    e2 = spark.createDataFrame([(3, 4)], "child long, parent long")
    clo2, delta = transitive_closure(e2, seed_closure=clo1, return_delta=True)
    assert C._get_local_anc(clo2)
    want = {(1, 2), (1, 3), (2, 3), (1, 4), (2, 4), (3, 4)}
    assert _pairs(clo2) == want
    dpairs = _pairs(delta)
    assert {(1, 4), (2, 4), (3, 4)} <= dpairs <= want
    # distributed seed (no map) → distributed result
    monkeypatch.setenv("SUBONT_LOCAL_TC", "off")
    clo1d = transitive_closure(e1)
    monkeypatch.setenv("SUBONT_LOCAL_TC", "auto")
    clo2d = transitive_closure(e2, seed_closure=clo1d)
    assert C._get_local_anc(clo2d) is None
    assert _pairs(clo2d) == want


def test_local_tc_pairs_cap_falls_back(spark, monkeypatch):
    import subont.closure as C

    monkeypatch.setattr(C, "_LOCAL_TC_MAX_PAIRS", 3)
    edges = spark.createDataFrame([(i, i + 1) for i in range(1, 8)], "child long, parent long")
    clo = transitive_closure(edges)
    assert C._get_local_anc(clo) is None  # fell back
    assert len(_pairs(clo)) == 7 * 8 // 2


def test_classify_local_equals_distributed(spark, monkeypatch):
    from subont import fixtures

    ont = fixtures.dummy_ontology(spark)
    monkeypatch.setenv("SUBONT_LOCAL_TC", "off")
    off = _pairs(classify(ont).closure)
    monkeypatch.setenv("SUBONT_LOCAL_TC", "auto")
    on = _pairs(classify(ont).closure)
    assert off == on


def test_reduce_local_equals_distributed(spark, monkeypatch):
    """eliminate_weaker/stronger local kernels (closure carrying the
    local anc map) must equal the pairs-first distributed plan on
    randomized grouped candidate sets."""
    import random

    for seed in (7, 31):
        rng = random.Random(seed)
        n = 30
        erows = [(c, rng.randrange(c + 1, n + 2)) for c in range(1, n + 1)]
        edges = spark.createDataFrame(erows, "child long, parent long")
        cand = spark.createDataFrame(
            [(rng.randrange(4), rng.randrange(1, n + 2)) for _ in range(40)],
            "set_id long, cls long",
        ).distinct()
        monkeypatch.setenv("SUBONT_LOCAL_TC", "off")
        clo_d = transitive_closure(edges)
        monkeypatch.setenv("SUBONT_LOCAL_TC", "auto")
        clo_l = transitive_closure(edges)
        assert C._get_local_anc(clo_l) is not None
        for fn in (eliminate_weaker, eliminate_stronger):
            dist = {(r.set_id, r.cls) for r in fn(cand, clo_d).collect()}
            loc = {(r.set_id, r.cls) for r in fn(cand, clo_l).collect()}
            assert dist == loc, (seed, fn.__name__)


def test_direct_edges_local_equals_distributed(spark, monkeypatch):
    """_local_direct (witness sweep over the local anc map) must equal
    the distributed anti-join form, with and without the edge witness
    set, on randomized DAGs with redundant shortcuts."""
    import random

    for seed in (13, 59):
        rng = random.Random(seed)
        n = 35
        rows = [(c, rng.randrange(c + 1, n + 2)) for c in range(1, n + 1)]
        rows += [(c, rng.randrange(c + 1, n + 2)) for c in range(1, n, 3)]  # shortcuts
        edges = spark.createDataFrame(sorted(set(rows)), "child long, parent long")
        monkeypatch.setenv("SUBONT_LOCAL_TC", "off")
        clo_d = transitive_closure(edges)
        dist_e = _pairs(derive_direct_edges(clo_d, edges=edges), "child", "parent")
        dist_c = _pairs(derive_direct_edges(clo_d), "child", "parent")
        monkeypatch.setenv("SUBONT_LOCAL_TC", "auto")
        clo_l = transitive_closure(edges)
        assert C._get_local_anc(clo_l) is not None
        loc_e = _pairs(derive_direct_edges(clo_l, edges=edges), "child", "parent")
        loc_c = _pairs(derive_direct_edges(clo_l), "child", "parent")
        assert dist_e == loc_e == dist_c == loc_c, seed


def test_direct_edges_numpy_path_engages(spark, monkeypatch):
    """The vectorized witness sweep (_local_direct_np) must actually
    ENGAGE for an int64 array-backed closure — its result is a local
    relation with no Join in the plan.  (Output equality is gated by
    the randomized test above; this pins the physical path so a silent
    fallback to the python-dict or distributed form cannot regress the
    round-6 2.57→1.1 s win unnoticed.)"""
    monkeypatch.setenv("SUBONT_LOCAL_TC", "auto")
    edges = spark.createDataFrame(
        [(i, i // 10) for i in range(10, 800)], "child long, parent long"
    )
    clo = transitive_closure(edges)
    assert getattr(clo, "_subont_local_anc_arrays", None) is not None
    # the TC probe stashed the collected edge arrays for this object
    src = getattr(clo, "_subont_local_src_edges", None)
    assert src is not None and src[0] is edges
    d = derive_direct_edges(clo, edges=edges)
    plan = d._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan, plan


# ---------------------------------------------------------------------------
# local classify kernel ≡ distributed classify (fixture + randomized synth)
# ---------------------------------------------------------------------------

def _cl_sets(cl):
    return (
        {(r.desc, r.anc) for r in cl.closure.collect()},
        {(r.child, r.parent) for r in cl.direct.collect()},
        {r.id for r in cl.non_primitive.collect()},
        {(r.desc, r.anc) for r in cl.prop_closure.collect()},
        {r.pv_id for r in cl.pv_names.collect()},
        {r.gci_id for r in cl.gci_names.collect()},
    )


def test_local_classify_equals_distributed_fixture(spark, monkeypatch):
    from subont import fixtures

    ont = fixtures.dummy_ontology(spark)
    monkeypatch.setenv("SUBONT_LOCAL_CLASSIFY", "auto")
    loc = classify(ont)
    assert loc.local is not None  # local kernel engaged
    monkeypatch.setenv("SUBONT_LOCAL_CLASSIFY", "off")
    dist = classify(ont)
    assert dist.local is None
    assert _cl_sets(loc) == _cl_sets(dist)


def test_local_classify_equals_distributed_synth(spark, monkeypatch):
    """Randomized ontologies with PVs, GCIs, chains and transitive roles;
    both directions forced, seeded continuation included."""
    from subont.synth import synthetic_ontology

    for seed in (0, 3):
        ont = synthetic_ontology(spark, n_concepts=350, seed=seed, gci_every=64)
        monkeypatch.setenv("SUBONT_LOCAL_CLASSIFY", "auto")
        loc = classify(ont)
        assert loc.local is not None
        # seeded re-classify stays local and is a no-op on the same axioms
        re_loc = classify(ont, seed=loc)
        assert re_loc.local is not None
        monkeypatch.setenv("SUBONT_LOCAL_CLASSIFY", "off")
        dist = classify(ont)
        assert _cl_sets(loc) == _cl_sets(dist)
        assert _cl_sets(re_loc)[0] == _cl_sets(loc)[0]


def test_local_classify_rbox_over_cap_falls_back(spark, monkeypatch):
    """An RBox larger than the kernel gate must push classify onto the
    distributed path (bounded collects only — closure.py kernel
    contract), with identical results."""
    import dataclasses

    import subont.closure as cl_mod
    from subont import fixtures

    base = fixtures.dummy_ontology(spark)
    big_chains = spark.createDataFrame(
        [(900 + i, 910 + i, 920 + i) for i in range(40)],
        "super_role long, left_role long, right_role long",
    )
    ont = dataclasses.replace(base, role_chains=big_chains)
    monkeypatch.setattr(cl_mod, "_LOCAL_TC_MAX_EDGES", 20)
    monkeypatch.setenv("SUBONT_LOCAL_CLASSIFY", "auto")
    loc = classify(ont)
    # the RBox gate tripped: no local kernel artifacts on the result
    assert loc.local is None
    monkeypatch.setenv("SUBONT_LOCAL_CLASSIFY", "off")
    dist = classify(ont)
    assert _cl_sets(loc) == _cl_sets(dist)


def test_local_classify_distributed_seed_stays_distributed(spark, monkeypatch):
    """A seed produced by the distributed path must NOT flip the follow-up
    call onto the local kernel (no unbounded collect of a distributed
    closure), and the result still matches."""
    from subont import fixtures

    ont = fixtures.dummy_ontology(spark)
    monkeypatch.setenv("SUBONT_LOCAL_CLASSIFY", "off")
    dist = classify(ont)
    monkeypatch.setenv("SUBONT_LOCAL_CLASSIFY", "auto")
    seeded = classify(ont, seed=dist)
    assert seeded.local is None
    assert _cl_sets(seeded)[0] == _cl_sets(dist)[0]


def test_local_classify_cycle_detection(spark, monkeypatch):
    """The local kernel raises the same equivalence-cycle ValueError."""
    import pytest as _pytest

    from subont.model import OntologyBuilder

    b = OntologyBuilder()
    b.add_subclass(10, 20)
    b.add_subclass(20, 10)
    ont = b.build(spark)
    monkeypatch.setenv("SUBONT_LOCAL_CLASSIFY", "auto")
    with _pytest.raises(ValueError, match="cycle"):
        classify(ont)
    monkeypatch.setenv("SUBONT_LOCAL_CLASSIFY", "off")
    with _pytest.raises(ValueError, match="cycle"):
        classify(ont)


def test_big_delta_naive_branch_equals_naive(spark, monkeypatch):
    """The Δ≈closure branch (full re-evaluation over the pre-partitioned
    closure, VERDICT r4 item 5) must produce exactly the naive fixpoint —
    forced by zeroing the size gate and making the delta-first ratio
    unreachable, so every semi-naive round with n_delta*2 >= closure
    takes the untagged tree (and the per-round repartition engages)."""
    import random

    from subont import closure as C
    from subont.model import And, OntologyBuilder, Some

    monkeypatch.setenv("SUBONT_LOCAL_CLASSIFY", "off")
    monkeypatch.setattr(C, "DELTA_FIRST_MIN_CLOSURE", 0)
    monkeypatch.setattr(C, "DELTA_FIRST_RATIO", 10**9)

    for seed in (5, 31):
        rng = random.Random(seed)
        b = OntologyBuilder()
        R, S, T = 100, 101, 102
        b.add_subproperty(S, R)
        b.transitive_roles.add(R)
        b.role_chains.append(dict(super_role=T, left_role=T, right_role=R))
        b.role_chains.append(dict(super_role=R, left_role=S, right_role=R))
        n = 14
        for c in range(1, n):
            b.add_subclass(c, rng.randrange(c + 1, n + 1) if c + 1 <= n else n)
        for _ in range(8):
            c, f = rng.randrange(1, n), rng.randrange(1, n)
            b.add_subclass(c, Some(rng.choice([R, S, T]), f))
        for _ in range(3):
            a, c2, f = rng.randrange(1, n), rng.randrange(1, n), rng.randrange(1, n)
            if a != c2:
                b.add_equiv(a, And([c2, Some(rng.choice([R, S]), f)]))
        ont = b.build(spark)
        try:
            fast = classify(ont)
            slow = classify(ont, naive=True)
        except ValueError:
            continue
        assert fast.closure.exceptAll(slow.closure).isEmpty(), seed
        assert slow.closure.exceptAll(fast.closure).isEmpty(), seed


def test_vectorized_close_equals_dict_kernel():
    """_close_pairs_np (the vectorized unseeded local-TC kernel) must
    produce exactly the dict kernel's sorted strict pair list on
    randomized graphs: DAGs, cycles, self-loops, duplicate edges and
    full-range 63-bit ids (no Spark needed — pure-kernel equivalence)."""
    import random

    import numpy as np

    def dict_pairs(ch, pa):
        parents = {}
        for c, p in zip(ch, pa):
            if c != p:
                parents.setdefault(c, set()).add(p)
        anc = C._local_close(parents, 10**9)
        return [(d, x) for d, s in sorted(anc.items()) for x in sorted(s)]

    rng = random.Random(97)
    for trial in range(25):
        n = rng.randint(2, 80)
        edges = [
            (rng.randint(0, n), rng.randint(0, n)) for _ in range(rng.randint(1, 200))
        ]
        if trial % 3 == 0:
            edges += edges[: len(edges) // 2]  # duplicates
        if trial % 4 == 0:
            edges.append((1, 1))  # self-loop
        ch = np.array([c for c, _ in edges], np.int64)
        pa = np.array([p for _, p in edges], np.int64)
        d, a = C._close_pairs_np(ch, pa, 10**9)
        assert list(zip(d.tolist(), a.tolist())) == dict_pairs(ch.tolist(), pa.tolist()), trial
    # 63-bit ids (the xxhash64 id space)
    edges = [(rng.getrandbits(63) - 2**62, rng.getrandbits(63) - 2**62) for _ in range(30)]
    edges += [(edges[i][1], edges[(i + 1) % 30][0]) for i in range(30)]
    ch = np.array([c for c, _ in edges], np.int64)
    pa = np.array([p for _, p in edges], np.int64)
    d, a = C._close_pairs_np(ch, pa, 10**9)
    assert list(zip(d.tolist(), a.tolist())) == dict_pairs(ch.tolist(), pa.tolist())
    # pairs cap -> None (fallback contract)
    assert C._close_pairs_np(np.array([1, 2, 3], np.int64), np.array([0, 0, 0], np.int64), 2) is None
