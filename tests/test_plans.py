"""Physical-plan quality gates: the optimizations SURVEY.md §4 claims
must actually appear in the plans Catalyst produces.

These assert on .explain output — if a refactor silently breaks
predicate pushdown, broadcast choice or codegen, these fail."""

import pyspark.sql.functions as F

import __spark_entry__ as em

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_parquet_filter_pushdown_and_pruning(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.filter(F.col("lang") == "en").select("doc_id", "n_chars")
    plan = _plan(q)
    assert "PushedFilters" in plan and "lang" in plan.split("PushedFilters")[1][:120]
    # column pruning: text (the wide column) must not be read
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read_schema
    assert "doc_id" in read_schema


def test_rf2_active_filter_pushdown(spark):
    from subont import fixtures
    from subont.rf2_io import read_rf2_tsv

    rels = read_rf2_tsv(
        spark,
        f"{fixtures.DUMMY_SNAPSHOT}/sct2_Relationship_Snapshot_INT_20180731.txt",
    )
    plan = _plan(rels)
    assert "PushedFilters" in plan
    assert "active" in plan.split("PushedFilters")[1][:200]


def test_small_dimension_broadcast(spark):
    em._views(spark, SF)
    q = spark.sql(
        "SELECT n.n_name, count(*) AS n FROM customer c JOIN nation n "
        "ON c.c_nationkey = n.n_nationkey GROUP BY n.n_name"
    )
    assert "BroadcastHashJoin" in _plan(q)


def test_signature_semi_join_broadcasts(spark):
    from subont.rf2 import filter_rf2_by_signature

    big = spark.read.parquet(f"{SF}/orders.parquet").withColumnRenamed(
        "o_orderkey", "conceptId"
    )
    sig = spark.createDataFrame([(1,), (2,)], "concept_id long")
    out = filter_rf2_by_signature(big, sig, "conceptId")
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_whole_stage_codegen_in_agg(spark):
    em._views(spark, SF)
    q = spark.sql(em.Q1)
    q.collect()  # AQE finalizes the plan on execution
    plan = _plan(q)
    # whole-stage-codegen spans render as "*(n) Operator" in the
    # executed-plan string; both agg stages must be inside one
    assert "*(1)" in plan and "*(2)" in plan
    # partial (map-side) aggregation before the exchange
    assert "partial_sum" in plan and "Exchange" in plan


def test_kg_name_joins_broadcast(spark, monkeypatch):
    """The kg named-triple surface joins the (broadcast-sized) concept
    dimension twice and the role dimension once — ALL THREE must plan as
    broadcast joins; the triple table itself is never shuffled for them.
    (The round-6 local assembly kernel removes the joins entirely below
    its gate — a join-free plan is the strongest form of the property —
    so the broadcast assertion is checked on the forced-distributed
    plan.)"""
    df = em.queries()["kg_corpus_triples"](spark, SF)
    local_plan = _plan(df)
    assert ("Join" not in local_plan) or local_plan.count("BroadcastHashJoin") >= 3
    monkeypatch.setenv("SUBONT_LOCAL_KG", "off")
    df = em.queries()["kg_corpus_triples"](spark, SF)
    plan = _plan(df)
    spark.catalog.clearCache()
    assert plan.count("BroadcastHashJoin") >= 3
    # the name-join keys themselves never appear in a sort-merge join
    # (inner SMJs in the pre-AQE static plan belong to the closure /
    # antichain kernels, which AQE converts or partitions at runtime)
    for line in plan.splitlines():
        if "SortMergeJoin" in line:
            assert "_ent" not in line and "role_name" not in line


def test_no_cartesian_in_catalog_queries(spark):
    # every oracled query should plan without a cartesian product
    for name, fn in em.queries().items():
        if name in ("kg_corpus_triples", "subontology_fixture_triples"):
            continue
        plan = _plan(fn(spark, SF))
        assert "CartesianProduct" not in plan, name


def test_no_unbounded_global_window(spark):
    """VERDICT r1 gate: no catalog query may plan a single-partition
    window over an UNBOUNDED input.  A global window is tolerated only
    when its child is a limit (TakeOrderedAndProject / GlobalLimit) —
    i.e. the window input is bounded by k, not by data size."""
    for name, fn in em.queries().items():
        if name in ("kg_corpus_triples", "subontology_fixture_triples"):
            continue
        df = fn(spark, SF)
        plan = _plan(df)
        lines = plan.splitlines()
        for i, line in enumerate(lines):
            if "windowspecdefinition" not in line:
                continue
            # partitioned windows hash-partition their input; a global
            # window's exchange is SinglePartition
            tail = "\n".join(lines[i : i + 6])
            if "SinglePartition" in tail:
                # allowed only when fed by a limit (bounded rows)
                assert "TakeOrderedAndProject" in plan or "GlobalLimit" in tail or "partial_" in tail, (
                    name,
                    tail,
                )


def test_antichain_closure_join_is_pairwise(spark):
    """A5/A6 plan gate: the closure may be touched ONLY by a two-column
    (desc, anc) semi-join over set-bounded member pairs — never an
    anc-only equi-join that fans each candidate out to its full
    descendant set (hub skew: |descendants(root)| rows per candidate at
    SNOMED scale)."""
    from subont.reduce import eliminate_stronger, eliminate_weaker

    cand = spark.createDataFrame([(1, 10), (1, 11)], "set_id long, cls long")
    closure = spark.createDataFrame([(10, 11)], "desc long, anc long")
    for fn in (eliminate_weaker, eliminate_stronger):
        plan = _optimized(fn(cand, closure))
        semi = [l for l in plan.splitlines() if "LeftSemi" in l]
        assert semi, plan
        # every closure-facing semi-join keys on BOTH desc and anc
        for line in semi:
            if "desc" in line or "anc" in line:
                assert "desc" in line and "anc" in line, line
