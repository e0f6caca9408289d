"""Relational ontology encoding + expression reification.

The reference keeps three mutable OWL object graphs in one JVM heap
(SubOntologyExtractionHandler.java:35-37).  Here an ontology is a set of
immutable DataFrames over a single long id space:

* concepts            — positive SCTIDs (reference parses IRIs to Long,
                        SubOntologyExtractionHandler.java:770-772)
* reified PV names    — negative longs derived from a *content hash* of
                        (role, filler).  The reference names PVs with an
                        insertion-order counter ``PV_<n>``
                        (IntroducedNameHandler.java:121-123) which is not
                        reproducible under parallelism; content hashing is
                        deterministic and idempotent at any scale.
* reified GCI names   — negative longs, different salt
                        (IntroducedNameHandler.java:160-162).

Tables
------
axioms(axiom_id, sub_id, is_equiv, is_gci, gci_super, rhs:array<struct<kind,ref_id>>)
    One row per SubClassOf/EquivalentClasses axiom after reification.
    ``kind`` is 'c' (concept) or 'p' (named PV).  For a GCI
    ``B ⊓ ∃R.C ⊑ A`` the row carries sub_id = <gci name>, is_gci = true,
    gci_super = A, rhs = reified LHS conjuncts — mirroring the namer's
    ``GCI_j ≡ LHS`` + original axiom (IntroducedNameHandler.java:87-118).

pvs(pv_id, role_id, filler_concept, filler_refs:array<struct<kind,ref_id>>)
    Reified ``R some C`` restrictions.  Simple filler → filler_concept;
    complex filler (role group / nested PV) → filler_refs conjunct list.

subprops(child, parent); transitive_roles(role_id); reflexive_roles(role_id);
role_chains(super_role, left_role, right_role); annotations(entity_id, prop, value)
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field, replace
from typing import Iterable, Sequence, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- Well-known SCTIDs (public SNOMED identifiers used by the reference) ---
IS_A = 116680003                      # RelationshipComponentFactory.java:20
ROLE_GROUP = 609096000                # role-group wrapper property
SCT_TOP = 138875005                   # SubOntologyExtractionHandler.java:60
OBJECT_ATTRIBUTE_TOP = 762705008      # SubOntologyExtractionHandler.java:452
DATA_ATTRIBUTE_TOP = 762706009        # SubOntologyExtractionHandler.java:470
CONCEPT_MODEL_ATTRIBUTE = 410662002
MODEL_COMPONENT = 900000000000441003
INFERRED_RELATIONSHIP = 900000000000011006  # RF2Printer.java:268
MODIFIER_SOME = 900000000000451002          # RF2Printer.java:272
CORE_MODULE = 900000000000207008            # RF2Printer.java:264

# Metadata concepts appended to the focus set when emitting browser RF2
# (SubOntologyExtractionHandler.java:140-157).
BROWSER_RF2_METADATA = [
    900000000000509007,
    900000000000508004,
    733073007,
    900000000000455006,
    900000000000506000,
    410662002,
    762705008,
    762706009,
]

REF_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),   # 'c' | 'p'
        T.StructField("ref_id", T.LongType(), False),
    ]
)

AXIOMS_SCHEMA = T.StructType(
    [
        T.StructField("axiom_id", T.LongType(), False),
        T.StructField("sub_id", T.LongType(), False),
        T.StructField("is_equiv", T.BooleanType(), False),
        T.StructField("is_gci", T.BooleanType(), False),
        T.StructField("gci_super", T.LongType(), True),
        T.StructField("rhs", T.ArrayType(REF_STRUCT, False), False),
    ]
)

PVS_SCHEMA = T.StructType(
    [
        T.StructField("pv_id", T.LongType(), False),
        T.StructField("role_id", T.LongType(), False),
        T.StructField("filler_concept", T.LongType(), True),
        T.StructField("filler_refs", T.ArrayType(REF_STRUCT, False), True),
        # concrete-domain (data-has-value) restrictions: the reference
        # names OWLDataHasValue expressions exactly like object PVs
        # (IntroducedNameHandler.java:77) and routes their relationship
        # rows to a second RF2 file (RF2Printer.java:230).  value holds
        # the OWL literal verbatim (e.g. '"1"^^xsd:integer').
        T.StructField("is_data", T.BooleanType(), False),
        T.StructField("value", T.StringType(), True),
    ]
)

EDGE_SCHEMA = T.StructType(
    [T.StructField("child", T.LongType(), False), T.StructField("parent", T.LongType(), False)]
)


def _md5_60(s: str) -> int:
    """The first 60 bits of md5(s) as a non-negative int — the Spark SQL
    ``conv(substring(md5(s), 1, 15), 16, 10)`` id formula, in-process."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def _hash60(s: str) -> int:
    """Deterministic 60-bit content hash → negative long id.

    Shared by the driver-side builder and the distributed corpus path so
    the same expression always reifies to the same id (idempotent resume).
    """
    return -(_md5_60(s) | 1)


# ---------------------------------------------------------------------------
# Driver-side expression trees (for fixtures / OWL-ish input; small data).
# The corpus front-end builds the flat tables distributed, never via these.
# ---------------------------------------------------------------------------

class Some:
    """Existential restriction ``role some filler``.

    filler: int concept | Some | And
    """

    __slots__ = ("role", "filler")

    def __init__(self, role: int, filler: "Expr"):
        self.role = role
        self.filler = filler


class And:
    __slots__ = ("members",)

    def __init__(self, members: Sequence["Expr"]):
        self.members = list(members)


class Has:
    """Concrete-domain restriction ``DataHasValue(role, literal)``.

    value: the OWL literal verbatim, e.g. '"1"^^xsd:integer' or
    '"mg"^^xsd:string' (reference: OWLDataHasValue consumed at
    DefinitionGenerator.java:52-53, named at IntroducedNameHandler.java:77).
    """

    __slots__ = ("role", "value")

    def __init__(self, role: int, value: str):
        self.role = role
        self.value = value


Expr = Union[int, Some, And, "Has"]


def _ref_token(kind: str, ref_id: int) -> str:
    return f"{kind}{ref_id}"


def _sorted_tokens(refs: list[tuple[str, int]]) -> list[str]:
    """Canonical conjunct order: concepts before PVs, numeric ascending.

    The SAME ordering must be reproducible from (kind, id) pairs alone on
    executors (definitions._rebuild_role_groups re-mints group ids
    distributed), hence id-based tokens rather than structural strings.
    """
    return [_ref_token(k, r) for k, r in sorted(refs, key=lambda kr: (kr[0], kr[1]))]


def pv_hash_input(role: int, refs: list[tuple[str, int]]) -> str:
    return f"pv|{role}|" + "&".join(_sorted_tokens(refs))


def data_pv_hash_input(role: int, value: str) -> str:
    """Separate salt from object PVs so a data PV can never collide with
    an ∃-restriction id (the object-PV formula is a round-1 invariant
    reproduced in Spark SQL — do not change either)."""
    return f"pvd|{role}|{value}"


def pv_id_for(expr) -> int:
    """Content-hash id of a (possibly nested) restriction, bottom-up."""
    if isinstance(expr, Has):
        return _hash60(data_pv_hash_input(expr.role, expr.value))
    if isinstance(expr.filler, int):
        refs = [("c", expr.filler)]
    else:
        members = expr.filler.members if isinstance(expr.filler, And) else [expr.filler]
        refs = []
        for m in members:
            if isinstance(m, int):
                refs.append(("c", m))
            else:
                refs.append(("p", pv_id_for(m)))
    return _hash60(pv_hash_input(expr.role, refs))


def gci_id_for(conjuncts: Sequence["Expr"], super_id: int) -> int:
    refs = []
    for c in conjuncts:
        if isinstance(c, int):
            refs.append(("c", c))
        else:
            refs.append(("p", pv_id_for(c)))
    return _hash60(f"gci|{super_id}|" + "&".join(_sorted_tokens(refs)))


@dataclass
class OntologyBuilder:
    """Accumulates OWL-ish axioms and reifies them into flat tables.

    Mirrors IntroducedNameHandler.returnOntologyWithNamings()
    (IntroducedNameHandler.java:48-74): every ``R some C`` in any axiom
    gets a fresh named class + equivalence; every GCI LHS likewise.
    """

    axioms: list = field(default_factory=list)          # dict rows
    pvs: dict = field(default_factory=dict)             # pv_id -> row
    concepts: set = field(default_factory=set)
    subprops: list = field(default_factory=list)
    transitive_roles: set = field(default_factory=set)
    reflexive_roles: set = field(default_factory=set)
    role_chains: list = field(default_factory=list)     # (super, left, right)
    annotations: list = field(default_factory=list)
    object_properties: set = field(default_factory=set)
    data_properties: set = field(default_factory=set)
    _axiom_seq: int = 0

    # -- expression reification ------------------------------------------
    def _reify(self, expr: Expr) -> tuple[str, int]:
        """Return ('c'|'p', ref_id); registers nested PVs."""
        if isinstance(expr, int):
            self.concepts.add(expr)
            return ("c", expr)
        if isinstance(expr, Has):
            pid = pv_id_for(expr)
            if pid not in self.pvs:
                self.data_properties.add(expr.role)
                self.pvs[pid] = dict(
                    pv_id=pid, role_id=expr.role, filler_concept=None,
                    filler_refs=None, is_data=True, value=expr.value,
                )
            return ("p", pid)
        if isinstance(expr, Some):
            pid = pv_id_for(expr)
            if pid not in self.pvs:
                self.object_properties.add(expr.role)
                if isinstance(expr.filler, int):
                    self.concepts.add(expr.filler)
                    self.pvs[pid] = dict(
                        pv_id=pid, role_id=expr.role, filler_concept=expr.filler,
                        filler_refs=None, is_data=False, value=None,
                    )
                else:
                    members = expr.filler.members if isinstance(expr.filler, And) else [expr.filler]
                    refs = [self._reify(m) for m in members]
                    self.pvs[pid] = dict(
                        pv_id=pid,
                        role_id=expr.role,
                        filler_concept=None,
                        filler_refs=[dict(kind=k, ref_id=r) for k, r in refs],
                        is_data=False,
                        value=None,
                    )
            return ("p", pid)
        raise TypeError(f"cannot reify {expr!r} as a conjunct")

    def _conjuncts(self, rhs: Expr) -> list[dict]:
        members = rhs.members if isinstance(rhs, And) else [rhs]
        out = []
        for m in members:
            k, r = self._reify(m)
            out.append(dict(kind=k, ref_id=r))
        return out

    # -- axiom constructors ----------------------------------------------
    def add_subclass(self, sub: int, rhs: Expr) -> None:
        self.concepts.add(sub)
        self._axiom_seq += 1
        self.axioms.append(
            dict(
                axiom_id=self._axiom_seq,
                sub_id=sub,
                is_equiv=False,
                is_gci=False,
                gci_super=None,
                rhs=self._conjuncts(rhs),
            )
        )

    def add_equiv(self, sub: int, rhs: Expr) -> None:
        self.concepts.add(sub)
        self._axiom_seq += 1
        self.axioms.append(
            dict(
                axiom_id=self._axiom_seq,
                sub_id=sub,
                is_equiv=True,
                is_gci=False,
                gci_super=None,
                rhs=self._conjuncts(rhs),
            )
        )

    def add_gci(self, lhs: Expr, super_id: int) -> None:
        """GCI ``lhs ⊑ super_id`` with anonymous lhs; reified to
        ``GCI_name ≡ lhs`` + edge GCI_name → super_id
        (IntroducedNameHandler.java:87-118)."""
        self.concepts.add(super_id)
        members = lhs.members if isinstance(lhs, And) else [lhs]
        gid = gci_id_for(members, super_id)
        self._axiom_seq += 1
        self.axioms.append(
            dict(
                axiom_id=self._axiom_seq,
                sub_id=gid,
                is_equiv=True,
                is_gci=True,
                gci_super=super_id,
                rhs=self._conjuncts(lhs),
            )
        )

    def add_subproperty(self, child: int, parent: int, data: bool = False) -> None:
        self.subprops.append(dict(child=child, parent=parent))
        (self.data_properties if data else self.object_properties).update([child, parent])

    def add_annotation(self, entity: int, prop: str, value: str) -> None:
        self.annotations.append(dict(entity_id=entity, prop=prop, value=value))

    def build(self, spark: SparkSession) -> "Ontology":
        pv_rows = list(self.pvs.values())
        return Ontology(
            axioms=spark.createDataFrame(self.axioms, AXIOMS_SCHEMA)
            if self.axioms
            else spark.createDataFrame([], AXIOMS_SCHEMA),
            pvs=spark.createDataFrame(pv_rows, PVS_SCHEMA)
            if pv_rows
            else spark.createDataFrame([], PVS_SCHEMA),
            concepts=spark.createDataFrame(
                [(c,) for c in sorted(self.concepts)], "concept_id long"
            ),
            subprops=spark.createDataFrame(self.subprops, "child long, parent long")
            if self.subprops
            else spark.createDataFrame([], "child long, parent long"),
            transitive_roles=spark.createDataFrame(
                [(r,) for r in sorted(self.transitive_roles)], "role_id long"
            )
            if self.transitive_roles
            else spark.createDataFrame([], "role_id long"),
            reflexive_roles=spark.createDataFrame(
                [(r,) for r in sorted(self.reflexive_roles)], "role_id long"
            )
            if self.reflexive_roles
            else spark.createDataFrame([], "role_id long"),
            role_chains=spark.createDataFrame(
                self.role_chains, "super_role long, left_role long, right_role long"
            )
            if self.role_chains
            else spark.createDataFrame([], "super_role long, left_role long, right_role long"),
            annotations=spark.createDataFrame(
                self.annotations, "entity_id long, prop string, value string"
            )
            if self.annotations
            else spark.createDataFrame([], "entity_id long, prop string, value string"),
            object_properties=spark.createDataFrame(
                [(p,) for p in sorted(self.object_properties)], "role_id long"
            )
            if self.object_properties
            else spark.createDataFrame([], "role_id long"),
            data_properties=spark.createDataFrame(
                [(p,) for p in sorted(self.data_properties)], "role_id long"
            )
            if self.data_properties
            else spark.createDataFrame([], "role_id long"),
        )


@dataclass
class Ontology:
    """Immutable bundle of ontology tables (one 'OWLOntology')."""

    axioms: DataFrame
    pvs: DataFrame
    concepts: DataFrame
    subprops: DataFrame
    transitive_roles: DataFrame
    reflexive_roles: DataFrame
    role_chains: DataFrame
    annotations: DataFrame
    object_properties: DataFrame
    data_properties: DataFrame

    def with_axioms(self, axioms: DataFrame) -> "Ontology":
        return replace(self, axioms=axioms)

    def has_gcis(self) -> bool:
        """Whether any GCI axiom exists — loop-INVARIANT per ontology, so
        cached: the expansion loop and every definition-generator call
        would otherwise re-probe it with one Spark job per round."""
        cached = getattr(self, "_has_gcis", None)
        if cached is None:
            cached = not self.axioms.filter(F.col("is_gci")).isEmpty()
            self._has_gcis = cached
        return cached

    def has_group_pvs(self) -> bool:
        """Whether any PV has a complex (role-group) filler.  Cached for
        the same reason as has_gcis: group rebuilding can only ever fire
        when the source ontology carries at least one group PV (rebuilt
        groups are derived from existing ones), so a group-free ontology
        skips the per-batch probe in _rebuild_role_groups entirely."""
        cached = getattr(self, "_has_group_pvs", None)
        if cached is None:
            cached = not self.pvs.filter(
                F.col("filler_concept").isNull() & ~F.col("is_data")
            ).isEmpty()
            self._has_group_pvs = cached
        return cached

    def class_signature(self) -> DataFrame:
        """All named (positive-id) classes mentioned in current axioms —
        mirrors OWLOntology.getClassesInSignature(): subjects, concept
        conjuncts, and concepts nested inside PV fillers."""
        subs = self.axioms.filter(~F.col("is_gci")).select(F.col("sub_id").alias("concept_id"))
        gci_supers = (
            self.axioms.filter(F.col("is_gci")).select(F.col("gci_super").alias("concept_id"))
        )
        refs = (
            self.axioms.select(F.explode("rhs").alias("r"))
            .select(F.col("r.kind").alias("kind"), F.col("r.ref_id").alias("concept_id"))
        )
        used_pvs = self.used_pv_ids()
        pv_concepts = (
            self.pvs.join(used_pvs, "pv_id", "left_semi")
            .select(
                F.explode(
                    F.concat(
                        F.when(
                            F.col("filler_concept").isNotNull(),
                            F.array(F.struct(F.lit("c").alias("kind"), F.col("filler_concept").alias("ref_id"))),
                        ).otherwise(F.array().cast(T.ArrayType(REF_STRUCT))),
                        F.coalesce(F.col("filler_refs"), F.array().cast(T.ArrayType(REF_STRUCT))),
                    )
                ).alias("r")
            )
            .select(F.col("r.kind").alias("kind"), F.col("r.ref_id").alias("concept_id"))
        )
        all_refs = refs.unionByName(pv_concepts)
        return (
            subs.unionByName(gci_supers)
            .unionByName(all_refs.filter(F.col("kind") == "c").select("concept_id"))
            .filter(F.col("concept_id") > 0)
            .distinct()
        )

    def used_pv_ids(self) -> DataFrame:
        """PV ids reachable from current axioms (transitively through
        nested fillers) — 'nested class expressions' of the ontology.

        Eager loop with early break: measured FASTER than a lazy bounded
        unroll here — the unrolled plan re-optimizes a ~30-operator tree
        in every consumer, which costs more driver time than the 1-2
        tiny jobs the early-break loop runs (nesting is ≤2 deep)."""
        direct = (
            self.axioms.select(F.explode("rhs").alias("r"))
            .filter(F.col("r.kind") == "p")
            .select(F.col("r.ref_id").alias("pv_id"))
            .distinct()
        )
        from .util import chk_n

        seen = direct
        frontier = direct
        for _ in range(8):
            nxt = (
                self.pvs.join(frontier, "pv_id", "left_semi")
                .select(F.explode(F.coalesce("filler_refs", F.array().cast(T.ArrayType(REF_STRUCT)))).alias("r"))
                .filter(F.col("r.kind") == "p")
                .select(F.col("r.ref_id").alias("pv_id"))
                .distinct()
                .join(seen, "pv_id", "left_anti")
            )
            nxt, n = chk_n(nxt)  # one job: checkpointed delta + emptiness
            if n == 0:
                break
            seen = seen.unionByName(nxt)  # lazy union of checkpointed deltas
            frontier = nxt
        return seen

    def role_signature(self) -> DataFrame:
        """Object/data properties used in current axioms' PVs (role-group
        wrapper excluded from RBox walking like any other role is not —
        the reference includes it in getObjectPropertiesInSignature)."""
        return (
            self.pvs.join(self.used_pv_ids(), "pv_id", "left_semi")
            .select(F.col("role_id"))
            .distinct()
        )


def lit_concept_df(spark: SparkSession, ids: Iterable[int], col: str = "concept_id") -> DataFrame:
    return spark.createDataFrame([(int(i),) for i in ids], f"{col} long")
