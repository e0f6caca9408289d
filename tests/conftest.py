import dataclasses

import pytest

from subont.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # shuffle=1: fixture tables are tiny; scheduling overhead dominates.
    s = get_spark("subont-tests", cores=8, shuffle_partitions=1)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def extract_both(spark):
    """Memoized (local, dataframe) extraction pair per case key: the
    default in-process path, and the DataFrame pipeline forced with a
    classification stripped of its local carrier.  Shared by the
    equivalence harness and the fixture-based tests, so each case's
    (slow) DataFrame extraction runs once per session."""
    from subont.closure import classify
    from subont.pipeline import compute_subontology

    cache = {}

    def run(key, ont, focus, **kw):
        if key not in cache:
            cl = classify(ont)
            assert cl.local is not None, "fixture ontology must classify in-process"
            cache[key] = {
                "local": compute_subontology(spark, ont, focus, src_cl=cl, **kw),
                "dataframe": compute_subontology(
                    spark, ont, focus, src_cl=dataclasses.replace(cl, local=None), **kw
                ),
            }
        return cache[key]

    return run


@pytest.fixture(scope="session")
def dummy_ont(spark):
    from subont import fixtures

    return fixtures.dummy_ontology(spark)


@pytest.fixture(scope="session")
def dummy_extractions(dummy_ont, extract_both):
    """Reference CI fixture extraction on both paths: {path: result}."""
    from subont import fixtures

    return extract_both("dummy", dummy_ont, [fixtures.FOCUS], compute_rf2=True)


@pytest.fixture(scope="session")
def dummy_extraction(dummy_ont, dummy_extractions):
    """Shared end-to-end extraction on the reference CI fixture (the
    default, in-process path)."""
    return dummy_ont, dummy_extractions["local"]


@pytest.fixture(scope="session")
def rich(spark):
    """The richer synthetic fixture of tests/test_pipeline_rich.py."""
    from subont.model import And, OntologyBuilder, Some

    TOP = 138875005
    R, S, T_ROLE = 100100, 100200, 100300
    b = OntologyBuilder()
    # primitive backbone
    b.add_subclass(10, TOP)      # grouper branch A
    b.add_subclass(11, 10)
    b.add_subclass(12, 11)
    b.add_subclass(20, TOP)      # grouper branch B (fillers)
    b.add_subclass(21, 20)
    b.add_subclass(22, 21)
    # defined supporting concept above the focus: 30 ≡ 11 ⊓ ∃R.21
    b.add_equiv(30, And([11, Some(R, 21)]))
    # focus: 40 ≡ 30 ⊓ ∃S.22  (pulls 30's definition via rule 1)
    b.add_equiv(40, And([30, Some(S, 22)]))
    # GCI attached to 11: 12 ⊓ ∃R.22 ⊑ 11 — names rank under 11
    b.add_gci(And([12, Some(R, 22)]), 11)
    # role chain R∘S ⊑ R and transitive T: rule-2 triggers
    b.role_chains.append(dict(super_role=R, left_role=R, right_role=S))
    b.transitive_roles.add(T_ROLE)
    # 50 ≡ 21 ⊓ ∃S.12 : filler definition demanded by the chain when 40
    # (via ∃R.21) is expanded?  21 primitive → rule 2 checks its def
    # 60 ≡ 22 ⊓ ∃T.61, 61 ≡ 21 ⊓ ∃T.22: transitive-role filler pair
    b.add_subclass(61, 21)
    b.add_equiv(60, And([22, Some(T_ROLE, 61)]))
    b.add_subclass(70, And([10, Some(T_ROLE, 60)]))  # focus 2, primitive w/ ∃T
    return b.build(spark)
