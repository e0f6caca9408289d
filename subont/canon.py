"""Entity canonicalization via connected components (SURVEY.md §2.7).

Alias-equivalence mentions form an undirected graph over entity surface
forms; each component is one canonical entity (id = min member id).  The
algorithm is the alternating large-star/small-star map-reduce CC
(Kiveris et al., "Connected Components in MapReduce and Beyond" — public
algorithm), expressed as DataFrame joins with per-round
localCheckpoint.  Hot hub nodes are handled by the large-star step
itself (every neighbor > v links to min(neighborhood), so hubs shrink
exponentially); AQE skew-join covers residual shuffle skew.

Surface forms also link to their lexical canonical form (C<i>_a<k> → C<i>)
when the canonical form is itself mentioned — plus every surface form
maps to a stable 64-bit entity id via xxhash64 (content-addressed like
PV reification ids, never an insertion counter).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _chk(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=False)


# Size gate for the in-process union-find fast path — the CC analogue of
# Spark's small-side broadcast threshold.  2M edges ≈ 32 MB collected;
# the LIMIT short-circuits the scan, so an over-cap input pays one
# truncated collect and falls through to star contraction (the 100 TB
# path, unchanged).  Equivalence gated in tests/test_kg.py.
_LOCAL_CC_MAX_EDGES = int(os.environ.get("SUBONT_LOCAL_CC_MAX_EDGES", "2000000"))


def _union_find(pairs) -> dict:
    """node → component root over undirected ``pairs`` (union-find with
    path halving); every node of a pair is a key."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    return {n: find(n) for n in parent}


def _local_cc(spark, pdf) -> DataFrame:
    """Union-find over a collected edge list → sorted (id,
    component=min member) DataFrame, exact twin of the star-contraction
    output."""
    import numpy as np
    import pandas as pd

    # mirror the distributed path's null handling (the a != b filter
    # silently drops null rows there): without this, null endpoints turn
    # the whole pandas column float64 and crash the sort/min below
    pdf = pdf.dropna()
    root = _union_find(zip(pdf.iloc[:, 0].tolist(), pdf.iloc[:, 1].tolist()))
    comp_min: dict = {}
    for n, r in root.items():
        m = comp_min.get(r)
        if m is None or n < m:
            comp_min[r] = n
    rows = sorted((n, comp_min[r]) for n, r in root.items() if n != comp_min[r])
    if not rows:
        return spark.createDataFrame([], "id bigint, component bigint")
    arr = np.array(rows, dtype=np.int64)
    return spark.createDataFrame(
        pd.DataFrame({"id": arr[:, 0], "component": arr[:, 1]}),
        schema="id bigint, component bigint",
    )


def connected_components(edges: DataFrame, max_rounds: int = 32) -> DataFrame:
    """(a, b) undirected edges over long ids → (id, component) with
    component = min id in the component.

    Alternating star contraction; converges in O(log n) rounds.  Below
    ``_LOCAL_CC_MAX_EDGES`` the component graph fits on the driver and a
    union-find computes the exact same map in one collect + one
    createDataFrame — at bench scale the star contraction's per-round
    checkpoint/aggregate barriers are the wall clock, precisely like a
    shuffle join on a broadcast-sized input."""
    if os.environ.get("SUBONT_LOCAL_CC", "auto") != "off":
        # null endpoints are filtered Spark-side BEFORE the collect (the
        # distributed path's a != b filter drops them implicitly): a null
        # in a collected long column coerces the whole pandas column to
        # float64, silently corrupting ids above 2^53
        pdf = (
            edges.select("a", "b")
            .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
            .limit(_LOCAL_CC_MAX_EDGES + 1)
            .toPandas()
        )
        if len(pdf) <= _LOCAL_CC_MAX_EDGES:
            return _local_cc(edges.sparkSession, pdf)
    # symmetrize
    e = edges.select(F.col("a"), F.col("b")).unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).filter(F.col("a") != F.col("b")).distinct()
    e = _chk(e)

    def _checksum(df: DataFrame) -> tuple:
        # one aggregate job instead of two exceptAll scans per round;
        # the label multiset only ever shrinks toward the fixpoint, so a
        # stable (count, sums, hash-sum) tuple means convergence.
        m = F.lit(1 << 40)
        row = df.agg(
            F.count("*"),
            F.sum(F.pmod(F.col("a"), m)),
            F.sum(F.pmod(F.col("b"), m)),
            F.sum(F.pmod(F.xxhash64("a", "b"), m)),
        ).head()
        return tuple(row)

    prev = _checksum(e)
    for _ in range(max_rounds):
        # neighborhoods must see both directions every round, or chains
        # freeze into non-star fixed points (node→mid→root)
        sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
        # large-star: for each node, link every strictly-larger neighbor
        # to the minimum of the closed neighborhood.  Join keys are
        # renamed so the two sides never share attribute ids (works
        # around a Spark localCheckpoint/dedup planner bug).
        sym = _chk(sym)
        nbr_min = _chk(
            sym.groupBy("a")
            .agg(F.min("b").alias("mn"))
            .select(F.col("a").alias("na"), F.least(F.col("mn"), F.col("a")).alias("m"))
        )
        large = (
            sym.join(nbr_min, F.col("a") == F.col("na"))
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )
        # small-star: link node and smaller neighbors to the min
        small_nbrs = sym.filter(F.col("b") <= F.col("a"))
        small_min = _chk(
            small_nbrs.groupBy("a").agg(F.min("b").alias("m")).select(
                F.col("a").alias("na"), F.col("m")
            )
        )
        small = (
            small_nbrs.join(small_min, F.col("a") == F.col("na"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .unionByName(small_min.select(F.col("na").alias("a"), F.col("m").alias("b")))
        )
        new_e = large.unionByName(small).filter(F.col("a") != F.col("b")).distinct()
        new_e = _chk(new_e)
        cur = _checksum(new_e)
        e = new_e
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError("connected_components did not converge")
    comp = e.filter(F.col("a") > F.col("b")).select(F.col("a").alias("id"), F.col("b").alias("component"))
    return comp


def entity_id(col):
    """Stable 64-bit id for an entity surface form (content hash)."""
    return F.xxhash64(col)


def canonical_map(statements: DataFrame) -> DataFrame:
    """(ent, canonical_ent) for every surface form seen in statements.

    Components come from ``same(x, y)`` statements plus lexical
    alias→canonical edges (C<i>_a<k> ↔ C<i>).

    Scale optimization (entity-resolution blocking): alias edges are
    *contracted up front* by a pure expression (lex_root), so the
    iterative CC only ever sees ``same`` edges that cross lexical roots.
    In typical corpora that residue is tiny or empty — the O(log n)
    star-contraction loop is skipped entirely, removing the pipeline's
    main fixed (non-scaling) cost.  Component semantics are unchanged:
    contracting edges before CC preserves connected components."""
    ents = statements.select(F.explode(F.array("arg1", "arg2")).alias("ent")).distinct()
    def lex_root(c):
        return F.when(
            c.rlike(r"^C\d+_a\d+$"), F.regexp_extract(c, r"^(C\d+)_a\d+$", 1)
        ).otherwise(c)

    ents = ents.withColumn("root", lex_root(F.col("ent"))).withColumn(
        "rid", entity_id(F.col("root"))
    )
    # persist, not localCheckpoint: the lazy checkpoint pays physical
    # planning + codegen eagerly at definition time (~1 s measured) for
    # the same recompute-avoidance
    ents = ents.persist()

    # the root is a pure function of the surface form, so cross-root
    # edges need no join at all — one projection over the statements
    cross_edges = (
        statements.filter(F.col("stype") == "same")
        .select(
            entity_id(lex_root(F.col("arg1"))).alias("a"),
            entity_id(lex_root(F.col("arg2"))).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
    )
    if cross_edges.isEmpty():
        comp_expr = ents.withColumn("component", F.col("rid"))
    else:
        comp = connected_components(cross_edges)
        comp_expr = ents.join(comp, ents.rid == comp.id, "left").select(
            "ent", "root", "rid", F.coalesce(F.col("component"), F.col("rid")).alias("component")
        )
    # canonical representative per component: prefer the canonical lexical
    # form (no _a suffix), then greatest entity string — deterministic.
    reps = (
        comp_expr.withColumn("is_canon", (~F.col("ent").contains("_a")).cast("int"))
        .groupBy("component")
        .agg(F.max(F.struct(F.col("is_canon"), F.col("ent").alias("rep"))).alias("best"))
        .select("component", F.col("best.rep").alias("canonical_ent"))
    )
    return comp_expr.join(reps, "component").select("ent", "canonical_ent")


def canonicalize_statements(statements: DataFrame, cmap: DataFrame | None = None) -> DataFrame:
    """Rewrite statement args to canonical entities (broadcastable map)."""
    if cmap is None:
        cmap = canonical_map(statements)
    # the entity map is orders of magnitude smaller than the statement
    # stream — broadcast it so the 2 rewrites shuffle nothing
    c1 = F.broadcast(cmap.select(F.col("ent").alias("arg1"), F.col("canonical_ent").alias("c1")))
    c2 = F.broadcast(cmap.select(F.col("ent").alias("arg2"), F.col("canonical_ent").alias("c2")))
    return (
        statements.join(c1, "arg1", "left")
        .join(c2, "arg2", "left")
        .select(
            "repo",
            "path",
            "commit",
            "stype",
            F.coalesce("c1", "arg1").alias("arg1"),
            "role",
            F.coalesce("c2", "arg2").alias("arg2"),
            "score",
        )
    )
