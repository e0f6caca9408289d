"""Grouped antichain redundancy elimination (A5/A6) + primitivity.

The reference's workhorse ``eliminateWeakerClasses`` removes from a set
every class that is a strict ancestor of another member (keep the
most-specific antichain; OntologyReasoningService.java:143-157, helper
:203-210).  The reference loops pairwise per set; here one anti-join
serves *all* sets at once:

    pairs(set_id, a, b) = cand ⋈ cand within each set   (set-bounded)
    weak(set_id, cls)   = pairs ⋉ closure on (desc=b, anc=a)
    result              = cand ▷ weak                    (left_anti)

Join-order discipline for scale: member PAIRS are generated first — a
quadratic bounded by the (small, ~10s of conjuncts) candidate sets —
and the big closure is touched exactly once, as the build side of a
single (desc, anc) two-column semi-join.  The naive order
(cand ⋈ closure on cls == anc first) fans every candidate out to its
full descendant set: on a 360k-concept closure a hub ancestor like the
SCT root carries hundreds of thousands of descendants per candidate
row, the exact skew square this module must never materialize.

Equivalent members are never removed (closure is strict), matching the
reference's assumption of no equivalent classes (:142 comment).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .closure import local_of

# Local kernel gate: when the closure was computed by a local kernel
# (``closure.local_of`` finds its LocalClosure), the weak/strong member set
# is computed in-process from one bounded collect of cand's (set, cls)
# projection and anti-joined back as a BROADCAST — no member-pair
# self-join, no closure shuffle.  Above the cap (or with a distributed
# closure) the pairs-first plan below runs unchanged — it is the
# 100 TB / 360k-stress path.
_LOCAL_REDUCE_MAX_ROWS = int(os.environ.get("SUBONT_LOCAL_REDUCE_MAX_ROWS", "300000"))


# the full-local completion filters the collected cand rows directly
# (no second distributed scan + anti-join); it only engages when every
# cand column round-trips losslessly through pandas
_LOCAL_REDUCE_ATOMIC = {"bigint", "int", "smallint", "tinyint", "string", "double", "float", "boolean"}
_LOCAL_REDUCE_INTEGRAL = {"bigint", "int", "smallint", "tinyint"}


def marked_members(by_set: dict, anc, weak: bool = True) -> set:
    """(set, member) pairs the antichain drops, over in-memory sets.

    ``by_set``: set key → member set; ``anc``: node → strict ancestor set
    (a dict or a ``closure.LocalClosure`` — anything with ``.get``).
    weak=True marks members with a strict descendant in their set
    (eliminate_weaker), weak=False members with a strict ancestor in
    their set (eliminate_stronger)."""
    marked = set()
    for s, members in by_set.items():
        for o in members:
            ups = anc.get(o)
            if not ups:
                continue
            hit = ups & members
            if weak:
                # every member above o is redundant (o is more specific)
                for a in hit:
                    if a != o:
                        marked.add((s, a))
            else:
                # o has a strict ancestor in the set → o is "stronger"
                if hit - {o}:
                    marked.add((s, o))
    return marked


def reduce_sets(by_set: dict, anc) -> dict:
    """eliminate_weaker over in-memory sets: set key → kept members."""
    marked = marked_members(by_set, anc)
    return {s: {c for c in ms if (s, c) not in marked} for s, ms in by_set.items()}


def _local_reduce(
    cand: DataFrame, closure: DataFrame, set_col: str, cls_col: str, weak: bool
):
    """(reduced DataFrame, ok) — in-process twin of the pairs-first
    plan when the closure carries a ``LocalClosure``: collect the
    (bounded) cand rows, mark weak (has a strict descendant in the set)
    or strong (has a strict ancestor in the set) members, filter the
    rows in-process and ship the survivors back.  Member lookups are a
    few binary searches in the closure's pair arrays, never a full
    node→ancestors build for a handful of candidates.  ok=False →
    caller must use the distributed plan."""
    loc = local_of(closure)
    if loc is None or os.environ.get("SUBONT_LOCAL_REDUCE", "auto") == "off":
        return None, False
    if any(f.dataType.simpleString() not in _LOCAL_REDUCE_ATOMIC for f in cand.schema.fields):
        return None, False
    if cand.schema[cls_col].dataType.simpleString() not in _LOCAL_REDUCE_INTEGRAL:
        return None, False  # Spark compares a non-int member to the ids by cast
    pdf = cand.limit(_LOCAL_REDUCE_MAX_ROWS + 1).toPandas()
    if len(pdf) > _LOCAL_REDUCE_MAX_ROWS:
        return None, False
    if pdf.isna().any().any():
        return None, False  # null round-trip risk: use the distributed plan
    sets = pdf[set_col].tolist()
    clss = pdf[cls_col].tolist()
    by_set: dict = {}
    for s, c in zip(sets, clss):
        by_set.setdefault(s, set()).add(c)
    marked = marked_members(by_set, loc, weak)
    spark = cand.sparkSession
    if marked:
        keep = [(s, c) not in marked for s, c in zip(sets, clss)]
        pdf = pdf[keep]
    pdf = pdf.sort_values(by=list(pdf.columns), ignore_index=True)
    out = (
        spark.createDataFrame(pdf, schema=cand.schema)
        if len(pdf)
        else spark.createDataFrame([], cand.schema)
    )
    return out, True


def _member_pairs(cand: DataFrame, set_col: str, cls_col: str) -> DataFrame:
    """Distinct ordered member pairs (__s, __cls, __other) per set —
    explicit renames on both self-join sides (Spark 4.1 shared-leaf
    checkpoint workaround + unambiguous attribute ids)."""
    left = cand.select(F.col(set_col).alias("__s"), F.col(cls_col).alias("__cls"))
    right = cand.select(F.col(set_col).alias("__s"), F.col(cls_col).alias("__other"))
    return left.join(right, "__s").filter(F.col("__cls") != F.col("__other"))


def eliminate_weaker(cand: DataFrame, closure: DataFrame, set_col: str = "set_id", cls_col: str = "cls") -> DataFrame:
    """Keep most-specific members per group.

    cand: (set_col, cls_col) — candidate sets exploded to rows.
    closure: strict (desc, anc).
    """
    out, ok = _local_reduce(cand, closure, set_col, cls_col, weak=True)
    if ok:
        return out
    pairs = _member_pairs(cand, set_col, cls_col)
    # cls is weak iff some same-set member is a strict descendant of it
    weak = (
        pairs.join(
            closure,
            (F.col("__other") == closure.desc) & (F.col("__cls") == closure.anc),
            "left_semi",
        )
        .select(F.col("__s").alias(set_col), F.col("__cls").alias(cls_col))
        .distinct()
    )
    return cand.join(weak, [set_col, cls_col], "left_anti")


def eliminate_stronger(cand: DataFrame, closure: DataFrame, set_col: str = "set_id", cls_col: str = "cls") -> DataFrame:
    """Dual (A6): keep most-general members per group
    (OntologyReasoningService.java:159-173)."""
    out, ok = _local_reduce(cand, closure, set_col, cls_col, weak=False)
    if ok:
        return out
    pairs = _member_pairs(cand, set_col, cls_col)
    # cls is strong iff some same-set member is a strict ancestor of it
    strong = (
        pairs.join(
            closure,
            (F.col("__cls") == closure.desc) & (F.col("__other") == closure.anc),
            "left_semi",
        )
        .select(F.col("__s").alias(set_col), F.col("__cls").alias(cls_col))
        .distinct()
    )
    return cand.join(strong, [set_col, cls_col], "left_anti")
