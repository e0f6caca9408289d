"""Subontology extraction orchestration (SURVEY.md §2.4, P1-P15).

Distributed re-formulation of SubOntologyExtractionHandler.java:99-138:
every per-class loop in the reference becomes one batched DataFrame job;
the reference's mid-scan worklist (ListIterator inserts,
:242-345) becomes a semi-naive frontier loop whose fixpoint is the same
set (membership tests are monotone over the growing checked set — proven
against the reference CI fixture in tests/test_pipeline.py).

Iterative stages localCheckpoint per round; at cluster scale these become
reliable checkpoints to object storage, giving resume points (the
lineage/metrics writer in subont.lineage records them).

Below the local-classify gate the same stages run in-process instead
(subont.pipeline_local): at that size the ~600 scheduler round-trips of
this pipeline are the whole wall clock.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .closure import Classified, classify, transitive_closure
from .definitions import (
    DEF_SCHEMA,
    RedundancyOptions,
    abstract_definitions,
    gci_authoring_definitions,
    nnf_definitions,
    property_definitions,
)
from .model import (
    BROWSER_RF2_METADATA,
    DATA_ATTRIBUTE_TOP,
    OBJECT_ATTRIBUTE_TOP,
    SCT_TOP,
    Ontology,
    lit_concept_df,
)
from .reduce import eliminate_weaker


from .util import chk as _chk
from .util import chk_n as _chk_n


def _ids(df: DataFrame, col: str) -> DataFrame:
    return df.select(F.col(col).alias("id")).distinct()


def defs_to_axioms(rows: DataFrame, is_gci: bool = False, gci_super: DataFrame | None = None) -> DataFrame:
    """Assemble exploded definition rows into content-addressed axiom rows.

    axiom_id is a deterministic hash of the axiom content (never an
    insertion counter — SURVEY.md §7.4.2), so identical axioms generated
    by different stages dedup naturally, mirroring the reference's
    OWL-API set semantics (man.addAxioms is idempotent)."""
    grouped = (
        rows.groupBy("sub_id", "axiom_id", "is_equiv")
        .agg(F.array_sort(F.collect_set(F.struct("kind", "ref_id"))).alias("rhs"))
    )
    if is_gci:
        grouped = grouped.join(gci_super, "sub_id").withColumn("is_gci", F.lit(True))
    else:
        grouped = grouped.withColumn("gci_super", F.lit(None).cast("long")).withColumn(
            "is_gci", F.lit(False)
        )
    content = F.concat_ws(
        "|",
        F.col("sub_id"),
        F.col("is_equiv").cast("string"),
        F.col("is_gci").cast("string"),
        F.coalesce(F.col("gci_super").cast("string"), F.lit("-")),
        F.concat_ws("&", F.expr("transform(rhs, x -> concat(x.kind, cast(x.ref_id as string)))")),
    )
    return (
        grouped.withColumn(
            "axiom_id",
            F.conv(F.substring(F.md5(content), 1, 15), 16, 10).cast("long"),
        )
        .select("axiom_id", "sub_id", "is_equiv", "is_gci", "gci_super", "rhs")
        .distinct()
    )


@dataclass
class ExtractionResult:
    sub: Ontology                 # final subontology (axioms incl. RBox edges in subprops)
    nnf_rows: DataFrame           # DEF_SCHEMA rows for every signature class
    prop_defs: DataFrame          # (child, parent) direct property inclusions
    focus: DataFrame              # (concept_id) incl. RF2 metadata ids
    defined_supporting: DataFrame # (concept_id)
    groupers: DataFrame           # (concept_id)
    undefined: DataFrame          # (sub_id) classes with empty NNF
    src_cl: Classified
    sub_cl: Classified
    entity_ids: DataFrame | None = None  # sub ∪ NNF signature ids (S7 gate)


def _rule2_required(
    pv_frontier: DataFrame, filler_defs: DataFrame, ont: Ontology, prop_closure: DataFrame
) -> DataFrame:
    """Expansion rule 2 (SubOntologyExtractionHandler.java:361-419):
    a PV ∃r.F forces F's definition into the subontology iff a role-chain
    axiom r∘s ⊑ r has s among the top-level roles of F's definition, or r
    is transitive and F's definition has a top-level role t ⊑* r.

    pv_frontier: (pv_id, role_id, filler).  Returns (filler) distinct."""
    top_roles = (
        filler_defs.filter(F.col("kind") == "p")
        .join(ont.pvs.select(F.col("pv_id").alias("ref_id"), F.col("role_id").alias("top_role")), "ref_id")
        .select(F.col("sub_id").alias("filler"), "top_role")
        .distinct()
    )
    fr = pv_frontier.join(top_roles, "filler")
    # chain case: s ≠ r appears in a chain with super == r (exact role
    # match on s, as the reference TODOs but does not widen to subroles)
    chain_req = (
        fr.join(
            ont.role_chains,
            (fr.role_id == F.col("super_role"))
            & (
                ((F.col("left_role") != fr.role_id) & (F.col("top_role") == F.col("left_role")))
                | ((F.col("right_role") != fr.role_id) & (F.col("top_role") == F.col("right_role")))
            ),
            "left_semi",
        )
    )
    # transitive case: r transitive and (t == r or t ⊑* r)
    trans = ont.transitive_roles.select(F.col("role_id").alias("tr"))
    fr_trans = fr.join(trans, fr.role_id == F.col("tr"), "left_semi")
    trans_req = fr_trans.filter(F.col("top_role") == F.col("role_id")).unionByName(
        fr_trans.join(
            prop_closure,
            (F.col("top_role") == prop_closure.desc) & (F.col("role_id") == prop_closure.anc),
            "left_semi",
        )
    )
    return chain_req.select("filler").unionByName(trans_req.select("filler")).distinct()


def _expansion_loop(
    spark: SparkSession,
    ont: Ontology,
    src_cl: Classified,
    focus: DataFrame,
    sub_axioms: DataFrame,
    options: RedundancyOptions,
    base_new_pvs: DataFrame,
    max_rounds: int = 64,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """P4-P7: definition-expansion as a batched frontier loop.

    Returns (supporting_def_axioms, defined_supporting_ids, new_pvs)."""
    cur_pvs = ont.pvs.unionByName(base_new_pvs).distinct()
    sub0 = replace(ont, axioms=sub_axioms, pvs=cur_pvs)
    sig0 = _chk(sub0.class_signature())          # constant during loop (reference reads
    #                                              the pre-expansion signature, :332)
    focus_ids = _ids(focus, "concept_id")
    desc_of_focus_anc = _chk(                    # set of ids having a focus descendant
        src_cl.closure.join(focus_ids.withColumnRenamed("id", "desc"), "desc", "left_semi")
        .select(F.col("anc").alias("id"))
        .distinct()
    )

    init_cls = (
        sig0.withColumnRenamed("concept_id", "id")
        .join(focus_ids, "id", "left_anti")
        .join(desc_of_focus_anc, "id", "left_semi")
    )
    init_pvs = (
        sub0.used_pv_ids()
        .select(F.col("pv_id").alias("id"))
        .join(desc_of_focus_anc, "id", "left_semi")
    )
    frontier, n_frontier = _chk_n(init_cls.unionByName(init_pvs).distinct())
    checked = frontier
    defined = spark.createDataFrame([], "id long")
    acc_rows = spark.createDataFrame([], DEF_SCHEMA)
    acc_gci_rows = spark.createDataFrame([], DEF_SCHEMA)
    have_gci_rows = False
    new_pvs = ont.pvs.limit(0)
    nonprim = src_cl.non_primitive
    # hoisted: skip the per-round attached-GCI probe when there are no
    # GCIs at all (cached on the ontology — one job ever, shared with
    # every definition-generator call)
    have_gcis = ont.has_gcis()

    for _round_i in range(max_rounds):
        if n_frontier == 0:
            break
        pvf = frontier.join(cur_pvs, frontier.id == cur_pvs.pv_id, "inner")
        simple_pvf = pvf.filter(F.col("filler_concept").isNotNull()).select(
            "pv_id", "role_id", F.col("filler_concept").alias("filler")
        )
        complex_members = (
            pvf.filter(F.col("filler_concept").isNull())
            .select(F.explode("filler_refs").alias("r"))
            .select(F.col("r.ref_id").alias("id"))
            .distinct()
        )
        clsf = frontier.join(src_cl.pv_names, frontier.id == F.col("pv_id"), "left_anti")

        # rule 1: non-primitive classes with a focus descendant (:356-358)
        need_cls = (
            clsf.join(desc_of_focus_anc, "id", "left_semi")
            .join(nonprim.withColumnRenamed("id", "np"), F.col("id") == F.col("np"), "left_semi")
            .join(defined, "id", "left_anti")
        )
        # rule 2 fillers: batch-generate candidate defs for fillers+classes
        fillers = simple_pvf.select(F.col("filler").alias("id")).distinct()
        to_generate, n_gen = _chk_n(need_cls.unionByName(fillers).distinct())
        n_newly = 0
        if n_gen == 0:
            newly_defined = defined.limit(0)
            gen = None
        else:
            gen = abstract_definitions(
                ont, src_cl, to_generate.withColumnRenamed("id", "sub_id"), options
            )
            need_fillers = _rule2_required(
                simple_pvf, gen.rows, replace(ont, pvs=cur_pvs), src_cl.prop_closure
            ).select(
                F.col("filler").alias("id")
            ).join(defined, "id", "left_anti")
            newly_defined, n_newly = _chk_n(need_cls.unionByName(need_fillers).distinct())

        if gen is not None and n_newly > 0:
            kept_rows = gen.rows.join(
                newly_defined.withColumnRenamed("id", "sub_id"), "sub_id", "left_semi"
            )
            # gen.rows is checkpointed inside _finish_definition, and
            # newly_defined above — the accumulators stay LAZY unions of
            # checkpointed per-round deltas (no per-round re-materialize)
            acc_rows = acc_rows.unionByName(kept_rows)
            new_pvs = new_pvs.unionByName(gen.new_pvs).distinct()
            cur_pvs = cur_pvs.unionByName(gen.new_pvs).distinct()
            defined = defined.unionByName(newly_defined)  # disjoint by anti-join

            # P7: GCIs attached to newly defined classes (:421-432)
            gci_supers = ont.axioms.filter(F.col("is_gci")).select(
                F.col("sub_id").alias("gci_id"), F.col("gci_super")
            )
            attached = gci_supers.join(
                newly_defined.withColumnRenamed("id", "gci_super"), "gci_super", "left_semi"
            )
            if have_gcis and not attached.isEmpty():
                gci_rows = gci_authoring_definitions(
                    ont, src_cl, attached.select("gci_id"), options
                )
                acc_gci_rows = acc_gci_rows.unionByName(_chk(gci_rows))
                have_gci_rows = True
            else:
                gci_rows = None

            # next frontier: direct ancestors of newly-processed items
            # (:325-329) + expressions inside the new definitions (:331-344)
            parents = (
                newly_defined.unionByName(
                    simple_pvf.join(
                        newly_defined.withColumnRenamed("id", "filler"), "filler", "left_semi"
                    ).select(F.col("pv_id").alias("id"))
                )
                .join(src_cl.direct, F.col("id") == src_cl.direct.child)
                .select(F.col("parent").alias("id"))
                .distinct()
            )
            def_exprs = kept_rows if gci_rows is None else kept_rows.unionByName(gci_rows)
            new_cls_refs = (
                def_exprs.filter(F.col("kind") == "c")
                .select(F.col("ref_id").alias("id"))
                .distinct()
                .join(sig0.withColumnRenamed("concept_id", "id"), "id", "left_anti")
                .join(defined, "id", "left_anti")
            )
            new_pv_refs = (
                def_exprs.filter(F.col("kind") == "p")
                .select(F.col("ref_id").alias("id"))
                .distinct()
                .join(desc_of_focus_anc, "id", "left_semi")
            )
            nxt = parents.unionByName(new_cls_refs).unionByName(new_pv_refs)
        else:
            nxt = spark.createDataFrame([], "id long")

        nxt = nxt.unionByName(complex_members).distinct().join(checked, "id", "left_anti")
        frontier, n_frontier = _chk_n(nxt)
        checked = checked.unionByName(frontier)  # lazy union of checkpointed deltas
    else:
        raise RuntimeError("expansion loop did not converge")

    sup_axioms = defs_to_axioms(acc_rows)
    if have_gci_rows:
        gci_super_map = ont.axioms.filter(F.col("is_gci")).select("sub_id", "gci_super").distinct()
        sup_axioms = sup_axioms.unionByName(
            defs_to_axioms(acc_gci_rows, is_gci=True, gci_super=gci_super_map)
        )
    return _chk(sup_axioms), _chk(defined.withColumnRenamed("id", "concept_id")), new_pvs


def _nnf_entity_ids(nnf_rows: DataFrame, prop_defs: DataFrame, ont: Ontology) -> DataFrame:
    """Named entities (classes + properties) in the NNF ontology's
    signature: definition subjects, concept conjuncts, PV roles and
    fillers (recursively through nested PV refs), and the property-
    definition endpoints — the reference's
    nnfOntology.get*InSignature() union (SubOntologyRF2ConversionService
    .java:42-49)."""
    subs = nnf_rows.select(F.col("sub_id").alias("id"))
    crefs = nnf_rows.filter(F.col("kind") == "c").select(F.col("ref_id").alias("id"))
    pv_ids = nnf_rows.filter(F.col("kind") == "p").select(F.col("ref_id").alias("pv_id")).distinct()
    parts = [subs, crefs,
             prop_defs.select(F.col("child").alias("id")),
             prop_defs.select(F.col("parent").alias("id"))]
    for _ in range(8):
        if pv_ids.isEmpty():
            break
        joined = pv_ids.join(ont.pvs, "pv_id")
        parts.append(joined.select(F.col("role_id").alias("id")))
        parts.append(
            joined.filter(F.col("filler_concept").isNotNull()).select(
                F.col("filler_concept").alias("id")
            )
        )
        nested = joined.filter(F.col("filler_concept").isNull()).select(
            F.explode("filler_refs").alias("r")
        )
        parts.append(
            nested.filter(F.col("r.kind") == "c").select(F.col("r.ref_id").alias("id"))
        )
        pv_ids = nested.filter(F.col("r.kind") == "p").select(
            F.col("r.ref_id").alias("pv_id")
        ).distinct()
    out = parts[0]
    for x in parts[1:]:
        out = out.unionByName(x)
    return out.filter(F.col("id") > 0).distinct()


_RBOX_STOP = {OBJECT_ATTRIBUTE_TOP, DATA_ATTRIBUTE_TOP}


def rbox_walk(subprops, roles) -> set:
    """P8 over in-memory edges: every stated (child, parent) SubPropertyOf
    edge on a role's super chain, stopping at the attribute tops."""
    children: dict = {}
    for c, p in subprops:
        children.setdefault(c, []).append(p)
    frontier = set(roles)
    visited = set(frontier)
    acc: set = set()
    while frontier:
        nxt = set()
        for c in frontier:
            if c in _RBOX_STOP:
                continue
            for p in children.get(c, ()):
                acc.add((c, p))
                if p not in visited:
                    nxt.add(p)
                    visited.add(p)
        frontier = nxt
    return acc


def _populate_rbox(
    ont: Ontology, sig_roles: DataFrame, driver_side_max: int = 100_000
) -> DataFrame:
    """P8 (SubOntologyExtractionHandler.java:435-485): walk each signature
    property's stated super chain up to the object/data attribute top,
    collecting the traversed SubPropertyOf axioms.

    The RBox is METADATA-sized by construction (SNOMED ships ~130
    properties; the reference walks it in-heap) — below
    ``driver_side_max`` edges the walk runs driver-side over one
    collected edge list, exactly like any broadcast dimension lookup
    (one job instead of one per chain level).  Above the bound it falls
    back to the batched frontier semi-join walk."""
    spark = ont.subprops.sparkSession
    edges = ont.subprops.limit(driver_side_max + 1).collect()
    if len(edges) <= driver_side_max:
        acc = rbox_walk(
            [(r.child, r.parent) for r in edges],
            {r.role_id for r in sig_roles.select("role_id").distinct().collect()},
        )
        return (
            spark.createDataFrame(sorted(acc), "child long, parent long")
            if acc
            else ont.subprops.limit(0)
        )

    frontier = sig_roles.select(F.col("role_id").alias("child")).distinct()
    visited = frontier
    acc_df = None
    for _ in range(32):
        frontier = frontier.filter(~F.col("child").isin(list(_RBOX_STOP)))
        step = ont.subprops.join(frontier, "child", "left_semi")
        acc_df = step if acc_df is None else acc_df.unionByName(step)
        nxt = (
            step.select(F.col("parent").alias("child"))
            .distinct()
            .join(visited, "child", "left_anti")
        )
        if nxt.isEmpty():
            break
        frontier = nxt
        visited = visited.unionByName(nxt)
    return (acc_df if acc_df is not None else ont.subprops.limit(0)).distinct()


def _grouper_concepts(
    ont: Ontology, src_cl: Classified, sub_signature: DataFrame
) -> DataFrame:
    """P9 (:487-504): stated children of SCT top whose strict descendants
    intersect the subontology class signature."""
    stated_children = (
        ont.axioms.filter(~F.col("is_gci"))
        .select("sub_id", F.explode("rhs").alias("r"))
        .filter((F.col("r.kind") == "c") & (F.col("r.ref_id") == SCT_TOP))
        .select(F.col("sub_id").alias("g"))
        .filter(F.col("g") != SCT_TOP)
        .distinct()
    )
    sig = sub_signature.withColumnRenamed("concept_id", "desc")
    has_sig_desc = (
        src_cl.closure.join(stated_children.withColumnRenamed("g", "anc"), "anc", "left_semi")
        .join(sig, "desc", "left_semi")
        .select(F.col("anc").alias("g"))
        .distinct()
    )
    return has_sig_desc


def _complete_transitive_closure(
    ont: Ontology,
    src_cl: Classified,
    sub_cl: Classified,
    sub_signature: DataFrame,
    partials: DataFrame,
) -> DataFrame:
    """P10 (:506-547): for each partially-defined class, emit one
    ``cls ⊑ ⋀(reduced new ancestors)`` axiom.  Candidate set = current
    sub-ancestors ∪ (source ancestors that are named, in-signature and
    not yet sub-ancestors); reduce with the SOURCE closure; keep only the
    genuinely new ones."""
    p = partials.withColumnRenamed("concept_id", "cls")
    sub_anc = (
        p.join(sub_cl.closure, F.col("cls") == sub_cl.closure.desc)
        .select("cls", F.col("anc"))
    )
    src_anc = (
        p.join(src_cl.closure, F.col("cls") == src_cl.closure.desc)
        .select("cls", F.col("anc"))
        .filter(F.col("anc") > 0)  # named classes only (PV/GCI names are negative)
        .join(sub_signature.withColumnRenamed("concept_id", "anc"), "anc", "left_semi")
        .join(sub_anc, ["cls", "anc"], "left_anti")
    )
    cand = sub_anc.unionByName(src_anc).distinct()
    reduced = eliminate_weaker(
        cand.select(F.col("cls").alias("set_id"), F.col("anc").alias("cls2")),
        src_cl.closure,
        cls_col="cls2",
    ).select(F.col("set_id").alias("cls"), F.col("cls2").alias("anc"))
    new_anc = reduced.join(sub_anc, ["cls", "anc"], "left_anti")
    rows = new_anc.select(
        F.col("cls").alias("sub_id"),
        F.lit(0).cast("long").alias("axiom_id"),
        F.lit(False).alias("is_equiv"),
        F.lit("c").alias("kind"),
        F.col("anc").alias("ref_id"),
    )
    return defs_to_axioms(rows)


def _axiom_occurrences(axioms: DataFrame, ont: Ontology) -> DataFrame:
    """(axiom_id, entity_id) for every named class an axiom mentions,
    including concepts nested inside PV fillers (OWL-API
    containsEntityInSignature semantics used by the shrink step)."""
    subs = axioms.filter(~F.col("is_gci")).select("axiom_id", F.col("sub_id").alias("entity_id"))
    gsup = axioms.filter(F.col("is_gci")).select("axiom_id", F.col("gci_super").alias("entity_id"))
    refs = axioms.select("axiom_id", F.explode("rhs").alias("r"))
    crefs = refs.filter(F.col("r.kind") == "c").select(
        "axiom_id", F.col("r.ref_id").alias("entity_id")
    )
    # expand pv refs through nested fillers (bounded depth)
    pv_refs = refs.filter(F.col("r.kind") == "p").select(
        "axiom_id", F.col("r.ref_id").alias("pv_id")
    )
    out_pv_concepts = None
    for _ in range(8):
        if pv_refs.isEmpty():
            break
        joined = pv_refs.join(ont.pvs, "pv_id")
        concs = joined.filter(F.col("filler_concept").isNotNull()).select(
            "axiom_id", F.col("filler_concept").alias("entity_id")
        )
        out_pv_concepts = concs if out_pv_concepts is None else out_pv_concepts.unionByName(concs)
        nested = (
            joined.filter(F.col("filler_concept").isNull())
            .select("axiom_id", F.explode("filler_refs").alias("r"))
        )
        nc = nested.filter(F.col("r.kind") == "c").select(
            "axiom_id", F.col("r.ref_id").alias("entity_id")
        )
        out_pv_concepts = nc if out_pv_concepts is None else out_pv_concepts.unionByName(nc)
        pv_refs = nested.filter(F.col("r.kind") == "p").select(
            "axiom_id", F.col("r.ref_id").alias("pv_id")
        )
    parts = [subs, gsup, crefs]
    if out_pv_concepts is not None:
        parts.append(out_pv_concepts)
    out = parts[0]
    for x in parts[1:]:
        out = out.unionByName(x)
    return out.distinct()


def _shrink_hierarchy(
    spark: SparkSession,
    sub_axioms: DataFrame,
    ont: Ontology,
    sub_cl: Classified,
    focus: DataFrame,
    groupers: DataFrame,
    focus_axiom_ids: DataFrame,
) -> DataFrame:
    """P11 (:551-694): remove unnecessary 'atomic primitive' supporting
    concepts and re-parent their children past the removed nodes.

    Divergence note: a concept referenced only inside a PV filler is
    treated as 'used elsewhere' (kept); the reference falls through its
    branch chain and would remove it together with the referencing axiom
    (latent data loss, SubOntologyExtractionHandler.java:608-632)."""
    sub_only = sub_axioms.filter(~F.col("is_gci") & ~F.col("is_equiv"))
    equiv_subs = sub_axioms.filter(F.col("is_equiv")).select(F.col("sub_id").alias("id")).distinct()

    # single ⊑ axiom whose rhs is one named class
    per_cls = sub_only.groupBy("sub_id").agg(
        F.count("*").alias("n_ax"),
        F.min(F.when(F.size("rhs") == 1, F.col("rhs")[0]["kind"])).alias("only_kind"),
        F.min(F.when((F.size("rhs") == 1) & (F.col("rhs")[0]["kind"] == "c"), F.col("rhs")[0]["ref_id"])).alias("only_parent"),
        F.max(F.size("rhs")).alias("max_rhs"),
    )
    atomic_shape = per_cls.filter(
        (F.col("n_ax") == 1) & (F.col("max_rhs") == 1) & (F.col("only_kind") == "c")
    ).select(F.col("sub_id").alias("cls"), F.col("only_parent").alias("parent"))

    # parent must be primitive and itself atomically defined (≤1 ⊑ axiom,
    # all rhs single named class; zero axioms counts as atomic)
    parent_shape = per_cls.select(
        F.col("sub_id").alias("parent"),
        ((F.col("n_ax") <= 1) & (F.col("max_rhs") == 1) & (F.col("only_kind") == "c")).alias("p_atomic"),
    )
    cand = (
        atomic_shape.join(equiv_subs.withColumnRenamed("id", "cls"), "cls", "left_anti")
        .join(equiv_subs.withColumnRenamed("id", "parent"), "parent", "left_anti")
        .join(parent_shape, "parent", "left")
        .filter(F.coalesce(F.col("p_atomic"), F.lit(True)))
        .join(focus.withColumnRenamed("concept_id", "cls"), "cls", "left_anti")
        .join(groupers.withColumnRenamed("concept_id", "cls"), "cls", "left_anti")
        .select("cls")
    )
    if cand.isEmpty():
        return sub_axioms

    occ = _axiom_occurrences(sub_axioms, ont)
    ax_kind = sub_axioms.select(
        "axiom_id",
        "sub_id",
        "is_equiv",
        "is_gci",
        F.size("rhs").alias("n_rhs"),
        F.expr("size(filter(rhs, x -> x.kind != 'c')) > 0").alias("has_pv"),
        (F.col("rhs")[0]["kind"] == F.lit("c")).alias("first_is_c"),
        F.col("rhs")[0]["ref_id"].alias("first_ref"),
    )
    # usage analysis per (candidate, axiom)
    usage = (
        cand.join(occ, cand.cls == occ.entity_id)
        .join(ax_kind, "axiom_id")
    )
    usage = usage.filter(~((~F.col("is_gci")) & (F.col("sub_id") == F.col("cls"))))  # own def
    # primitive conjuncts test for intersections: all rhs concepts primitive
    nonprim_ids = equiv_subs  # within sub, non-primitive = has equivalence axiom
    rhs_concepts = sub_axioms.select("axiom_id", F.explode("rhs").alias("r")).filter(
        F.col("r.kind") == "c"
    )
    ax_with_nonprim_conj = (
        rhs_concepts.join(nonprim_ids, rhs_concepts["r.ref_id"] == nonprim_ids.id, "left_semi")
        .select("axiom_id")
        .distinct()
    )
    used = usage.filter(
        F.col("is_equiv")
        | F.col("is_gci")
        | F.col("has_pv")
        | ((F.col("n_rhs") == 1) & F.col("first_is_c") & (F.col("first_ref") != F.col("cls")))
    ).select("cls").unionByName(
        usage.join(focus_axiom_ids, "axiom_id", "left_semi").select("cls")
    ).unionByName(
        usage.filter(F.col("n_rhs") > 1)
        .join(ax_with_nonprim_conj, "axiom_id", "left_semi")
        .select("cls")
    ).distinct()
    to_remove = _chk(cand.join(used, "cls", "left_anti"))
    if to_remove.isEmpty():
        return sub_axioms

    # resolve surviving parents by skipping removed nodes upward
    rm = to_remove.withColumnRenamed("cls", "id")
    frontier = (
        rm.join(sub_cl.direct, F.col("id") == sub_cl.direct.child)
        .select(F.col("id").alias("p"), F.col("parent").alias("q"))
    )
    resolved = None
    for _ in range(32):
        hit = frontier.join(rm.withColumnRenamed("id", "q"), "q", "left_semi")
        ok = frontier.join(rm.withColumnRenamed("id", "q"), "q", "left_anti")
        resolved = ok if resolved is None else resolved.unionByName(ok)
        if hit.isEmpty():
            break
        frontier = (
            hit.join(sub_cl.direct, hit.q == sub_cl.direct.child)
            .select(F.col("p"), F.col("parent").alias("q"))
            .distinct()
        )
    skip_par = resolved.distinct()  # (p removed → q surviving parent)

    # children re-parenting
    children = (
        rm.join(sub_cl.direct, F.col("id") == sub_cl.direct.parent)
        .select(F.col("child").alias("c"), F.col("id").alias("p"))
        .join(rm.withColumnRenamed("id", "c"), "c", "left_anti")
    )
    other_parents = (
        children.select("c").distinct()
        .join(sub_cl.direct, F.col("c") == sub_cl.direct.child)
        .select("c", F.col("parent").alias("np"))
        .join(rm.withColumnRenamed("id", "np"), "np", "left_anti")
        .filter(F.col("np") > 0)  # named parents only
    )
    skip_parents_of_children = children.join(skip_par, "p").select("c", F.col("q").alias("np"))
    new_parent_rows = other_parents.unionByName(skip_parents_of_children).distinct()
    new_axioms = defs_to_axioms(
        new_parent_rows.select(
            F.col("c").alias("sub_id"),
            F.lit(0).cast("long").alias("axiom_id"),
            F.lit(False).alias("is_equiv"),
            F.lit("c").alias("kind"),
            F.col("np").alias("ref_id"),
        )
    )
    removed_ax = (
        occ.join(rm, occ.entity_id == rm.id, "left_semi").select("axiom_id").distinct()
    )
    kept = sub_axioms.join(removed_ax, "axiom_id", "left_anti")
    return _chk(kept.unionByName(new_axioms).distinct())


def compute_subontology(
    spark: SparkSession,
    ont: Ontology,
    focus_ids: list[int] | DataFrame,
    compute_rf2: bool = True,
    options: RedundancyOptions | None = None,
    src_cl: Classified | None = None,
) -> ExtractionResult:
    """End-to-end extraction (SubOntologyExtractionHandler.computeSubontology,
    :99-138): focus definitions → expansion → RBox → groupers → closure
    completion → shrink → NNF.

    When ``src_cl`` was classified in-process for this same ``ont``
    object (``src_cl.local``), the extraction runs in-process
    (``pipeline_local``); ``dataclasses.replace(src_cl, local=None)``
    forces the DataFrame pipeline below."""
    options = options or RedundancyOptions()
    # P1: reify + classify source (done by caller via model tables here)
    src_cl = src_cl or classify(ont)
    if src_cl.local is not None and src_cl.local.ont is ont:
        # below the local-classify gate: P2-P12 in-process over the
        # tables the classify kernel already collected
        from .pipeline_local import local_extraction

        res = local_extraction(spark, ont, focus_ids, compute_rf2, options, src_cl)
        if res is not None:
            return res
    if isinstance(focus_ids, DataFrame):
        focus = focus_ids.select("concept_id")
    else:
        focus = lit_concept_df(spark, focus_ids)
    if compute_rf2:
        focus = focus.unionByName(lit_concept_df(spark, BROWSER_RF2_METADATA)).distinct()
    focus = _chk(focus)

    # P2: focus authoring definitions
    fdefs = abstract_definitions(ont, src_cl, focus.withColumnRenamed("concept_id", "sub_id"), options)
    focus_axioms = defs_to_axioms(fdefs.rows)
    all_new_pvs = fdefs.new_pvs

    # P3: focus GCI axioms — GCI names that are ancestors of a focus
    # concept, or attached to a focus concept (:194-216)
    gci_names = ont.axioms.filter(F.col("is_gci")).select(
        F.col("sub_id").alias("gci_id"), "gci_super"
    )
    focus_anc_gcis = (
        gci_names.join(
            src_cl.closure.join(
                focus.withColumnRenamed("concept_id", "desc"), "desc", "left_semi"
            ).select(F.col("anc").alias("gci_id")),
            "gci_id",
            "left_semi",
        )
    )
    attached_to_focus = gci_names.join(
        focus.withColumnRenamed("concept_id", "gci_super"), "gci_super", "left_semi"
    )
    focus_gcis = focus_anc_gcis.unionByName(attached_to_focus).distinct()
    if ont.has_gcis() and not focus_gcis.isEmpty():
        gci_rows = gci_authoring_definitions(ont, src_cl, focus_gcis.select("gci_id"), options)
        gci_super_map = ont.axioms.filter(F.col("is_gci")).select("sub_id", "gci_super").distinct()
        focus_axioms = focus_axioms.unionByName(
            defs_to_axioms(gci_rows, is_gci=True, gci_super=gci_super_map)
        )
    focus_axioms = _chk(focus_axioms)
    focus_axiom_ids = focus_axioms.select("axiom_id").distinct()

    # P4-P7: expansion
    sup_axioms, defined_supporting, exp_new_pvs = _expansion_loop(
        spark, ont, src_cl, focus, focus_axioms, options, all_new_pvs
    )
    all_new_pvs = all_new_pvs.unionByName(exp_new_pvs).distinct()
    sub_axioms = _chk(focus_axioms.unionByName(sup_axioms).distinct())
    work_pvs = ont.pvs.unionByName(all_new_pvs).distinct()
    work_ont = replace(ont, axioms=sub_axioms, pvs=work_pvs, subprops=ont.subprops.limit(0))

    # P8: RBox
    sig_roles = work_ont.role_signature()
    rbox_edges = _chk(_populate_rbox(ont, sig_roles))
    work_ont = replace(work_ont, subprops=rbox_edges)

    # P9: groupers
    sub_signature = _chk(work_ont.class_signature())
    groupers_df = _chk(_grouper_concepts(ont, src_cl, sub_signature))
    grouper_axioms = defs_to_axioms(
        groupers_df.select(
            F.col("g").alias("sub_id"),
            F.lit(0).cast("long").alias("axiom_id"),
            F.lit(False).alias("is_equiv"),
            F.lit("c").alias("kind"),
            F.lit(SCT_TOP).cast("long").alias("ref_id"),
        )
    )
    sub_axioms = _chk(sub_axioms.unionByName(grouper_axioms).distinct())
    work_ont = work_ont.with_axioms(sub_axioms)
    groupers_all = _chk(
        groupers_df.withColumnRenamed("g", "concept_id").unionByName(
            lit_concept_df(spark, [SCT_TOP])
        ).distinct()
    )

    # classify subontology (P10 precondition)
    sub_cl = classify(work_ont)

    # P10: transitive-closure completion
    sub_signature = _chk(work_ont.class_signature())
    partials = (
        sub_signature.join(focus, "concept_id", "left_anti")
        .join(defined_supporting, "concept_id", "left_anti")
        .unionByName(groupers_all)
        .distinct()
    )
    completion_axioms = _complete_transitive_closure(
        ont, src_cl, sub_cl, sub_signature, partials
    )
    sub_axioms = _chk(sub_axioms.unionByName(completion_axioms).distinct())
    work_ont = work_ont.with_axioms(sub_axioms)

    # re-classify for shrinking (:186) — INCREMENTAL: P10 only ADDED
    # axioms, so the previous sub-classification seeds the closure
    # (monotone EL; the rules still run to their fixpoint on top)
    sub_cl = classify(work_ont, seed=sub_cl)

    # P11: shrink
    shrunk = _shrink_hierarchy(
        spark, sub_axioms, work_ont, sub_cl, focus, groupers_all, focus_axiom_ids
    )
    if shrunk is not sub_axioms:  # only re-classify if shrink changed anything
        sub_axioms = shrunk
        work_ont = work_ont.with_axioms(sub_axioms)
        sub_cl = classify(work_ont)
    final_sig = _chk(work_ont.class_signature())
    nnf_classes = final_sig.withColumnRenamed("concept_id", "sub_id")
    nnf = nnf_definitions(work_ont, sub_cl, nnf_classes, options)
    sig_props = (
        work_ont.role_signature()
        .unionByName(rbox_edges.select(F.col("child").alias("role_id")))
        .unionByName(rbox_edges.select(F.col("parent").alias("role_id")))
        .distinct()
    )
    prop_defs = property_definitions(work_ont, sig_props)

    # P12: annotation transfer + Focus/Supporting tags
    # (SubOntologyExtractionHandler.java:725-760): copy every source
    # annotation whose entity is in the sub∪NNF signature, then tag each
    # signature class with an rdfs:comment concept-type marker.
    sub_classes = final_sig
    entity_ids = _chk(
        sub_classes.unionByName(sig_props.withColumnRenamed("role_id", "concept_id"))
        .unionByName(
            _nnf_entity_ids(nnf.rows, prop_defs, work_ont).withColumnRenamed("id", "concept_id")
        )
        .distinct()
    )
    transferred = ont.annotations.join(
        entity_ids.withColumnRenamed("concept_id", "entity_id"), "entity_id", "left_semi"
    )
    tagged = (
        sub_classes.join(
            focus.withColumn("is_focus", F.lit(True)), "concept_id", "left"
        )
        .join(
            defined_supporting.withColumn("is_defined_sup", F.lit(True)),
            "concept_id",
            "left",
        )
        .select(
            F.col("concept_id").alias("entity_id"),
            F.lit("rdfs:comment").alias("prop"),
            F.when(F.col("is_focus"), F.lit("Focus concept"))
            .when(F.col("is_defined_sup"), F.lit("Supporting concept (with definition)"))
            .otherwise(F.lit("Supporting concept"))
            .alias("value"),
        )
    )
    work_ont = replace(work_ont, annotations=_chk(transferred.unionByName(tagged).distinct()))

    return ExtractionResult(
        sub=work_ont,
        nnf_rows=_chk(nnf.rows),
        prop_defs=_chk(prop_defs),
        focus=focus,
        defined_supporting=defined_supporting,
        groupers=groupers_all,
        undefined=nnf.undefined,
        src_cl=src_cl,
        sub_cl=sub_cl,
        entity_ids=entity_ids,
    )
