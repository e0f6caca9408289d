"""In-process subontology extraction below the local-classify gate.

When the source classification came from the in-process classify kernel
(``Classified.local``), the whole extraction (P2-P12 of
``pipeline.compute_subontology``) runs here over the tables that kernel
already collected: the same stages, rule for rule, as the DataFrame
pipeline, but as set and dict operations on the driver, with the
sub-ontology classifications run by the same rule engine
(``closure._classify_tables``).  The result surfaces ship back once, as
LocalRelations, so a fixture- or benchmark-sized extraction costs a
couple of Spark jobs instead of several hundred scheduler round-trips.

Row shapes (all plain tuples):

* definition rows — (sub_id, axiom_id, is_equiv, kind, ref_id), DEF_SCHEMA
* axioms          — (axiom_id, sub_id, is_equiv, is_gci, gci_super, rhs)
                    with rhs a sorted tuple of (kind, ref_id) pairs
* PVs             — pv_id → (role_id, filler_concept, filler_refs,
                    is_data, value), as ``closure.LocalTables``

Ids are the DataFrame pipeline's own formulas (``model._md5_60`` for
content-addressed axiom ids, ``model._hash60(pv_hash_input(...))`` for
rebuilt role groups), so both paths emit identical rows; the equivalence
is gated in tests/test_pipeline_local.py.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession

from .closure import (
    _LOCAL_TC_MAX_EDGES,
    _LOCAL_TC_MAX_PAIRS,
    Classified,
    LocalClassified,
    LocalTables,
    _classify_tables,
    _local_close,
    ship_classified,
)
from .definitions import DEF_SCHEMA
from .model import (
    AXIOMS_SCHEMA,
    BROWSER_RF2_METADATA,
    PVS_SCHEMA,
    SCT_TOP,
    Ontology,
    _hash60,
    _md5_60,
    pv_hash_input,
)
from .pipeline import ExtractionResult, rbox_walk
from .reduce import marked_members, reduce_sets


@dataclass
class _Defs:
    rows: set        # definition rows
    undefined: set   # sub_ids with no rows
    new_pvs: dict    # pv_id → PV minted by role-group rebuilds


class _Ctx:
    """Per-extraction constants over the source classification."""

    def __init__(self, src: LocalClassified, options, reflexive: set):
        t = src.tables
        self.src = src
        self.options = options
        self.reflexive = reflexive
        self.pvs = t.pvs
        self.by_sub: dict = {}  # non-GCI source axioms per subject
        self.gci_super: dict = {}  # GCI name → set(super)
        self.gci_axioms: dict = {}  # GCI name → [rhs]
        for ax in t.axioms:
            if ax[3]:
                self.gci_super.setdefault(ax[1], set()).add(ax[4])
                self.gci_axioms.setdefault(ax[1], []).append(ax[5])
            else:
                self.by_sub.setdefault(ax[1], []).append(ax)
        self.has_gcis = bool(self.gci_super)
        self.gci_of_super: dict = {}  # super → set(GCI name)
        for g, sups in self.gci_super.items():
            for s in sups:
                self.gci_of_super.setdefault(s, set()).add(g)
        self.src_group_pvs = _has_group_pvs(t.pvs)


def _has_group_pvs(pvs: dict) -> bool:
    return any(pv[1] is None and not pv[3] for pv in pvs.values())


def _cp_map(cl: LocalClassified) -> dict:
    """D4 closest-primitive map (node → set(prim)), the in-process form
    of ``definitions._closest_prim_map``: primitive non-PV direct parents,
    plus those reached through chains of non-primitive parents."""
    if cl.cp_map is None:
        prim_par: dict = {}
        np_par: dict = {}
        for c, ps in cl.direct.items():
            for p in ps:
                if p in cl.pv_ids:
                    continue
                (np_par if p in cl.non_primitive else prim_par).setdefault(c, set()).add(p)
        reach = _local_close(np_par, _LOCAL_TC_MAX_PAIRS)  # ⊆ the closure: under the cap
        cp = {n: set(ps) for n, ps in prim_par.items()}
        for d, ups in reach.items():
            for a in ups:
                ps = prim_par.get(a)
                if ps:
                    cp.setdefault(d, set()).update(ps)
        cl.cp_map = cp
    return cl.cp_map


# ---------------------------------------------------------------------------
# axioms and signatures
# ---------------------------------------------------------------------------

def _axiom(sub: int, is_equiv: bool, is_gci: bool, gsup, rhs: tuple) -> tuple:
    """One content-addressed axiom row — the id formula of
    ``pipeline.defs_to_axioms``."""
    content = "|".join(
        (
            str(sub),
            "true" if is_equiv else "false",
            "true" if is_gci else "false",
            "-" if gsup is None else str(gsup),
            "&".join(f"{k}{r}" for k, r in rhs),
        )
    )
    return (_md5_60(content), sub, is_equiv, is_gci, gsup, rhs)


def _defs_to_axioms(rows, gci_super: dict | None = None) -> set:
    grouped: dict = {}
    for s, a, e, k, r in rows:
        grouped.setdefault((s, a, e), set()).add((k, r))
    out = set()
    for (s, _a, e), refs in grouped.items():
        rhs = tuple(sorted(refs))
        if gci_super is None:
            out.add(_axiom(s, e, False, None, rhs))
        else:
            for gs in gci_super.get(s, ()):
                out.add(_axiom(s, e, True, gs, rhs))
    return out


def _isa_rows(pairs) -> set:
    return {(c, 0, False, "c", p) for c, p in pairs}


def _used_pvs(axioms, pvs: dict) -> set:
    """``Ontology.used_pv_ids``: PV ids reachable from the axioms."""
    seen = {r for ax in axioms for k, r in ax[5] if k == "p"}
    frontier = seen
    for _ in range(8):
        nxt = set()
        for p in frontier:
            pv = pvs.get(p)
            if pv is not None and pv[2]:
                nxt.update(r for k, r in pv[2] if k == "p" and r not in seen)
        if not nxt:
            break
        seen = seen | nxt
        frontier = nxt
    return seen


def _class_signature(axioms, pvs: dict) -> set:
    """``Ontology.class_signature``."""
    sig = set()
    for _aid, sub, _eq, is_gci, gsup, rhs in axioms:
        sig.add(gsup if is_gci else sub)
        sig.update(r for k, r in rhs if k == "c")
    for p in _used_pvs(axioms, pvs):
        pv = pvs.get(p)
        if pv is None:
            continue
        if pv[1] is not None:
            sig.add(pv[1])
        if pv[2]:
            sig.update(r for k, r in pv[2] if k == "c")
    return {x for x in sig if x is not None and x > 0}


def _role_signature(axioms, pvs: dict) -> set:
    return {pvs[p][0] for p in _used_pvs(axioms, pvs) if p in pvs}


# ---------------------------------------------------------------------------
# definition generators (definitions.py, in-process)
# ---------------------------------------------------------------------------

def _finish(ctx: _Ctx, cls_rows, pv_rows, classes, pvs: dict, cl: LocalClassified, group_pvs: bool) -> _Defs:
    """``definitions._finish_definition``: role-group rebuild (D6) and
    reflexive elimination (D7) on the PV side, undefined detection."""
    new_pvs: dict = {}
    if ctx.options.role_group:
        pv_rows, new_pvs = _rebuild_role_groups(pv_rows, pvs, cl, group_pvs)
    if ctx.options.reflexive_pv:
        def dropped(r) -> bool:
            pv = pvs.get(r[3])
            return pv is not None and pv[0] in ctx.reflexive and pv[1] == r[0]

        pv_rows = {r for r in pv_rows if not dropped(r)}
    rows = {(s, a, e, "c", c) for s, a, e, c in cls_rows} | {
        (s, a, e, "p", p) for s, a, e, p in pv_rows
    }
    subs = {r[0] for r in rows}
    return _Defs(rows=rows, undefined={c for c in classes if c not in subs}, new_pvs=new_pvs)


def _rebuild_role_groups(pv_rows, pvs: dict, cl: LocalClassified, group_pvs: bool):
    """D6 (``definitions._rebuild_role_groups``), bug-compatible: groups
    keep only their PV members, and a group with none is dropped."""
    simple, groups = set(), []
    for r in pv_rows:
        pv = pvs.get(r[3])
        if pv is None:
            continue
        if pv[1] is not None or pv[3]:
            simple.add(r)
        else:
            groups.append((r, pv))
    if not group_pvs or not groups:
        return pv_rows, {}
    by_set: dict = {}
    row_keys: dict = {}
    for (s, a, e, p), (role, _f, refs, _d, _v) in groups:
        members = [m for k, m in refs or () if k == "p"]
        if members:
            by_set.setdefault((s, a, p), set()).update(members)
            row_keys.setdefault((s, a, p), set()).add((s, a, e, p, role))
    kept = reduce_sets(by_set, cl.anc)
    out, new_pvs = set(simple), {}
    for key, rows in row_keys.items():
        mids = sorted(kept[key])
        if not mids:
            continue
        for s, a, e, p, role in rows:
            orig = sorted(m for k, m in pvs[p][2] if k == "p")
            if mids == orig:
                out.add((s, a, e, p))
                continue
            refs = tuple(("p", m) for m in mids)
            new_id = _hash60(pv_hash_input(role, list(refs)))
            out.add((s, a, e, new_id))
            new_pvs[new_id] = (role, None, refs, False, None)
    return out, new_pvs


def _abstract_definitions(ctx: _Ctx, classes) -> _Defs:
    """D3 (``definitions.abstract_definitions``) over the source."""
    cl = ctx.src
    anc = cl.anc
    opts = ctx.options
    parents = set()  # (sub, ax, eq, kind, pid)
    for c in classes:
        for ax_id, sub, eq, _g, _gs, rhs in ctx.by_sub.get(c, ()):
            parents.update((sub, ax_id, eq, k, r) for k, r in rhs)
    group_keys: dict = {}  # gid=(sub, ax) → {(sub, ax, eq)}
    anc_rows = set()
    for s, a, e, _k, pid in parents:
        group_keys.setdefault((s, a), set()).add((s, a, e))
        anc_rows.add((s, a, e, pid))
        anc_rows.update((s, a, e, x) for x in anc.get(pid, ()))
    ancestor_pvs = {r for r in anc_rows if r[3] in cl.pv_ids}

    prim_parents = {(s, a, pid) for s, a, _e, k, pid in parents if k == "c" and pid not in cl.non_primitive}
    cp = _cp_map(cl)
    closest: dict = {}
    for s, a, pid in prim_parents:
        closest.setdefault((s, a), set()).add(pid)
    for s, a, _e, _k, pid in parents:
        if (s, a, pid) not in prim_parents:
            ps = cp.get(pid)
            if ps:
                closest.setdefault((s, a), set()).update(ps)

    if opts.less_specific:
        closest = reduce_sets(closest, anc)
        if opts.sufficient_proximal_gcis:
            closest = reduce_sets(_eliminate_sufficient_proximal_gcis(ctx, closest, group_keys), anc)
        ancestor_pvs = _reduce_rows(ancestor_pvs, anc, key=lambda r: r[:2])

    cls_rows = {
        (s, a, e, prim)
        for gid, prims in closest.items()
        for s, a, e in group_keys[gid]
        for prim in prims
    }
    return _finish(ctx, cls_rows, ancestor_pvs, classes, ctx.pvs, cl, ctx.src_group_pvs)


def _eliminate_sufficient_proximal_gcis(ctx: _Ctx, closest: dict, group_keys: dict) -> dict:
    """D8: replace type-1 GCI parents by their proximal primitives."""
    if not ctx.has_gcis:
        return closest
    anc = ctx.src.anc
    cp = _cp_map(ctx.src)
    frontier = {
        (gid, s, p) for gid, prims in closest.items() for s, _a, _e in group_keys[gid] for p in prims
    }
    out: dict = {}
    for _ in range(16):
        type1 = {
            (g, s, p) for g, s, p in frontier
            if any(n in anc.get(s, ()) for n in ctx.gci_of_super.get(p, ()))
        }
        for g, s, p in frontier - type1:
            out.setdefault(g, set()).add(p)
        if not type1:
            break
        frontier = {(g, s, q) for g, s, p in type1 for q in cp.get(p, ())}
        if not frontier:
            break
    return out


def _gci_authoring_definitions(ctx: _Ctx, gci_ids) -> set:
    """D9 (``definitions.gci_authoring_definitions``)."""
    cl = ctx.src
    conj = {(g, k, r) for g in gci_ids for rhs in ctx.gci_axioms.get(g, ()) for k, r in rhs}
    defined = {(g, r) for g, k, r in conj if k == "c" and r in cl.non_primitive}
    cand = {x for x in conj if x[1] != "c" or x[2] not in cl.non_primitive}
    if defined:
        inner = _abstract_definitions(ctx, {r for _g, r in defined})
        by_sub: dict = {}
        for s, _a, _e, k, r in inner.rows:
            by_sub.setdefault(s, set()).add((k, r))
        cand |= {(g, k, r) for g, ref in defined for k, r in by_sub.get(ref, ())}
    out = set()
    for kind in ("c", "p"):
        sets: dict = {}
        for g, k, r in cand:
            if k == kind:
                sets.setdefault(g, set()).add(r)
        for g, rs in reduce_sets(sets, cl.anc).items():
            out.update((g, 0, False, kind, r) for r in rs)
    return out


def _nnf_definitions(ctx: _Ctx, cl: LocalClassified, classes, pvs: dict) -> _Defs:
    """D10 (``definitions.nnf_definitions``) over a sub-classification."""
    anc, direct = cl.anc, cl.direct
    ancestor_pvs = {(s, a) for s in classes for a in anc.get(s, ()) if a in cl.pv_ids}
    parents = {(s, p) for s in classes for p in direct.get(s, ()) if p not in cl.pv_ids}
    if cl.gci_ids:
        for _ in range(16):
            gci_parents = {(s, a) for s, a in parents if a in cl.gci_ids}
            if not gci_parents:
                break
            parents = {(s, a) for s, a in parents if a not in cl.gci_ids} | {
                (s, p) for s, g in gci_parents for p in direct.get(g, ()) if p not in cl.pv_ids
            }
        else:
            raise RuntimeError("nnf_definitions: GCI bypass did not terminate")
    if ctx.options.less_specific:
        parents = _reduce_rows(parents, anc)
        ancestor_pvs = _reduce_rows(ancestor_pvs, anc)
    return _finish(
        ctx,
        {(s, 0, False, a) for s, a in parents},
        {(s, 0, False, a) for s, a in ancestor_pvs},
        classes, pvs, cl, _has_group_pvs(pvs),
    )


def _reduce_rows(rows, anc, key=lambda r: r[0]) -> set:
    """eliminate_weaker over rows whose last field is the member and
    ``key(row)`` the set it belongs to."""
    by_set: dict = {}
    for r in rows:
        by_set.setdefault(key(r), set()).add(r[-1])
    marked = marked_members(by_set, anc)
    return {r for r in rows if (key(r), r[-1]) not in marked}


# ---------------------------------------------------------------------------
# extraction stages (pipeline.py, in-process)
# ---------------------------------------------------------------------------

def _rule2_required(ctx: _Ctx, simple_pvf, gen_rows, cur_pvs: dict) -> set:
    """``pipeline._rule2_required``: fillers whose definition expansion
    rule 2 forces (role-chain or transitive-role case)."""
    t = ctx.src.tables
    top_roles: dict = {}
    for s, _a, _e, k, r in gen_rows:
        if k == "p" and r in cur_pvs:
            top_roles.setdefault(s, set()).add(cur_pvs[r][0])
    trans = set(t.transitive_roles)
    prop_anc = ctx.src.prop_anc
    out = set()
    for _pid, role, f in simple_pvf:
        for top in top_roles.get(f, ()):
            if any(
                role == sup and ((left != role and top == left) or (right != role and top == right))
                for sup, left, right in t.role_chains
            ) or (role in trans and (top == role or role in prop_anc.get(top, ()))):
                out.add(f)
    return out


def _expansion_loop(ctx: _Ctx, focus: set, focus_axioms: set, base_new_pvs: dict, max_rounds: int = 64):
    """P4-P7 (``pipeline._expansion_loop``)."""
    src = ctx.src
    cur_pvs = {**ctx.pvs, **base_new_pvs}
    sig0 = _class_signature(focus_axioms, cur_pvs)
    dfa = set()  # ids having a focus descendant
    for f in focus:
        dfa |= src.anc.get(f, set())
    frontier = {c for c in sig0 if c not in focus and c in dfa}
    frontier |= {p for p in _used_pvs(focus_axioms, cur_pvs) if p in dfa}
    checked = set(frontier)
    defined: set = set()
    acc_rows: set = set()
    acc_gci_rows: set = set()
    have_gci_rows = False
    new_pvs: dict = {}
    for _ in range(max_rounds):
        if not frontier:
            break
        simple_pvf = set()
        complex_members = set()
        for i in frontier:
            pv = cur_pvs.get(i)
            if pv is None:
                continue
            if pv[1] is not None:
                simple_pvf.add((i, pv[0], pv[1]))
            elif pv[2]:
                complex_members.update(r for _k, r in pv[2])
        # rule 1: non-primitive classes with a focus descendant
        need_cls = {
            i for i in frontier
            if i not in src.pv_ids and i in dfa and i in src.non_primitive and i not in defined
        }
        to_generate = need_cls | {f for _p, _r, f in simple_pvf}
        gen = None
        newly: set = set()
        if to_generate:
            gen = _abstract_definitions(ctx, to_generate)
            newly = need_cls | (_rule2_required(ctx, simple_pvf, gen.rows, cur_pvs) - defined)
        nxt = set()
        if gen is not None and newly:
            kept = {r for r in gen.rows if r[0] in newly}
            acc_rows |= kept
            new_pvs.update(gen.new_pvs)
            cur_pvs.update(gen.new_pvs)
            defined |= newly
            # P7: GCIs attached to newly defined classes
            attached = {g for s in newly for g in ctx.gci_of_super.get(s, ())}
            def_exprs = kept
            if ctx.has_gcis and attached:
                gci_rows = _gci_authoring_definitions(ctx, attached)
                acc_gci_rows |= gci_rows
                have_gci_rows = True
                def_exprs = kept | gci_rows
            # next frontier: direct ancestors of newly-processed items +
            # expressions inside the new definitions
            for i in newly | {p for p, _r, f in simple_pvf if f in newly}:
                nxt |= src.direct.get(i, set())
            for _s, _a, _e, k, r in def_exprs:
                if k == "c" and r not in sig0 and r not in defined:
                    nxt.add(r)
                elif k == "p" and r in dfa:
                    nxt.add(r)
        frontier = (nxt | complex_members) - checked
        checked |= frontier
    else:
        raise RuntimeError("expansion loop did not converge")
    sup_axioms = _defs_to_axioms(acc_rows)
    if have_gci_rows:
        sup_axioms |= _defs_to_axioms(acc_gci_rows, ctx.gci_super)
    return sup_axioms, defined, new_pvs


def _axiom_occurrences(axioms, pvs: dict) -> dict:
    """axiom_id → named classes it mentions (``pipeline._axiom_occurrences``)."""
    occ: dict = {}
    for ax_id, sub, _eq, is_gci, gsup, rhs in axioms:
        ents = {gsup if is_gci else sub}
        ents.update(r for k, r in rhs if k == "c")
        pv_refs = {r for k, r in rhs if k == "p"}
        for _ in range(8):
            if not pv_refs:
                break
            nxt = set()
            for p in pv_refs:
                pv = pvs.get(p)
                if pv is None:
                    continue
                if pv[1] is not None:
                    ents.add(pv[1])
                elif pv[2]:
                    ents.update(r for k, r in pv[2] if k == "c")
                    nxt.update(r for k, r in pv[2] if k == "p")
            pv_refs = nxt
        occ.setdefault(ax_id, set()).update(ents)
    return occ


def _shrink_hierarchy(sub_axioms: set, pvs: dict, direct: dict, focus: set, groupers: set, focus_axiom_ids: set):
    """P11 (``pipeline._shrink_hierarchy``).  None when nothing is removed."""
    equiv_subs = {ax[1] for ax in sub_axioms if ax[2]}
    per_cls: dict = {}  # sub → [n_ax, only_kind, only_parent, max_rhs]
    for _aid, sub, eq, is_gci, _gs, rhs in sub_axioms:
        if is_gci or eq:
            continue
        st = per_cls.setdefault(sub, [0, None, None, 0])
        st[0] += 1
        if len(rhs) == 1:
            k, r = rhs[0]
            st[1] = k if st[1] is None else min(st[1], k)
            if k == "c":
                st[2] = r if st[2] is None else min(st[2], r)
        st[3] = max(st[3], len(rhs))

    def p_atomic(p) -> bool:
        st = per_cls.get(p)
        return st is None or (st[0] <= 1 and st[3] == 1 and st[1] == "c")

    cand = {
        cls for cls, (n, kind, parent, mx) in per_cls.items()
        if n == 1 and mx == 1 and kind == "c"
        and cls not in equiv_subs and parent not in equiv_subs and p_atomic(parent)
        and cls not in focus and cls not in groupers
    }
    if not cand:
        return None

    occ = _axiom_occurrences(sub_axioms, pvs)
    by_id = {ax[0]: ax for ax in sub_axioms}
    used = set()
    for ax_id, ents in occ.items():
        hits = ents & cand
        if not hits:
            continue
        _aid, sub, eq, is_gci, _gs, rhs = by_id[ax_id]
        n_rhs = len(rhs)
        has_pv = any(k != "c" for k, _r in rhs)
        nonprim_conj = n_rhs > 1 and any(k == "c" and r in equiv_subs for k, r in rhs)
        for cls in hits:
            if not is_gci and sub == cls:
                continue  # own definition
            if (
                eq or is_gci or has_pv
                or (n_rhs == 1 and rhs[0][0] == "c" and rhs[0][1] != cls)
                or ax_id in focus_axiom_ids
                or nonprim_conj
            ):
                used.add(cls)
    rm = cand - used
    if not rm:
        return None

    # resolve surviving parents by skipping removed nodes upward
    frontier = {(p, q) for p in rm for q in direct.get(p, ())}
    skip_par: dict = {}
    for _ in range(32):
        for p, q in frontier:
            if q not in rm:
                skip_par.setdefault(p, set()).add(q)
        hit = {(p, q) for p, q in frontier if q in rm}
        if not hit:
            break
        frontier = {(p, q2) for p, q in hit for q2 in direct.get(q, ())}
    new_parents = set()
    for c, ps in direct.items():
        if c in rm:
            continue
        removed_ps = ps & rm
        if not removed_ps:
            continue
        new_parents.update((c, q) for q in ps if q not in rm and q > 0)
        for p in removed_ps:
            new_parents.update((c, q) for q in skip_par.get(p, ()))
    removed_ax = {ax_id for ax_id, ents in occ.items() if ents & rm}
    kept = {ax for ax in sub_axioms if ax[0] not in removed_ax}
    return kept | _defs_to_axioms(_isa_rows(new_parents))


def _complete_transitive_closure(src: LocalClassified, sub_cl: LocalClassified, sub_sig: set, partials: set) -> set:
    """P10 (``pipeline._complete_transitive_closure``)."""
    cand: dict = {}
    sub_anc = set()
    for c in partials:
        ups = sub_cl.anc.get(c, set())
        sub_anc.update((c, a) for a in ups)
        cand[c] = set(ups) | {a for a in src.anc.get(c, ()) if a > 0 and a in sub_sig}
    reduced = reduce_sets(cand, src.anc)
    return _defs_to_axioms(
        _isa_rows((c, a) for c, ancs in reduced.items() for a in ancs if (c, a) not in sub_anc)
    )


def _property_definitions(rbox: set, roles: set) -> set:
    """D12 (``definitions.property_definitions``)."""
    supers_of: dict = {}
    for c, p in rbox:
        supers_of.setdefault(c, set()).add(p)
    supers = {(c, p) for c, p in rbox if c in roles}
    dominated = {(r, s) for r, q in supers for s in supers_of.get(q, ()) if (r, s) in supers}
    return supers - dominated


def _nnf_entity_ids(nnf_rows, prop_defs, pvs: dict) -> set:
    """``pipeline._nnf_entity_ids``."""
    ids = {r[0] for r in nnf_rows} | {r[4] for r in nnf_rows if r[3] == "c"}
    for c, p in prop_defs:
        ids.update((c, p))
    pv_ids = {r[4] for r in nnf_rows if r[3] == "p"}
    for _ in range(8):
        if not pv_ids:
            break
        nxt = set()
        for p in pv_ids:
            pv = pvs.get(p)
            if pv is None:
                continue
            ids.add(pv[0])
            if pv[1] is not None:
                ids.add(pv[1])
            elif pv[2]:
                ids.update(r for k, r in pv[2] if k == "c")
                nxt.update(r for k, r in pv[2] if k == "p")
        pv_ids = nxt
    return {i for i in ids if i > 0}


# ---------------------------------------------------------------------------
# shipping
# ---------------------------------------------------------------------------

def _ship(spark: SparkSession, rows, schema) -> DataFrame:
    """Rows → one Arrow-backed local relation (no job), sorted so the
    shipped order is deterministic.  Built straight from python values:
    a pandas detour would turn a nullable long column into float64."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    rows = sorted(rows, key=lambda r: tuple((x is None, x) for x in r))
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(schema.fields)
    tbl = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)], schema=arrow_schema
    )
    return spark.createDataFrame(tbl, schema=schema)


def _ship_ids(spark: SparkSession, ids, col: str) -> DataFrame:
    return _ship(spark, [(i,) for i in ids], f"{col} long")


def _structs(refs):
    return None if refs is None else [{"kind": k, "ref_id": r} for k, r in refs]


def _ship_axioms(spark: SparkSession, axioms) -> DataFrame:
    # ids are unique content hashes, so the sort never compares the rhs
    return _ship(spark, [(*ax[:5], _structs(ax[5])) for ax in axioms], AXIOMS_SCHEMA)


def _ship_pvs(spark: SparkSession, pvs: dict) -> DataFrame:
    return _ship(
        spark,
        [(p, role, f, _structs(refs), d, v) for p, (role, f, refs, d, v) in pvs.items()],
        PVS_SCHEMA,
    )


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------

def _collect_small(df: DataFrame, col: str) -> set | None:
    rows = df.select(col).limit(_LOCAL_TC_MAX_EDGES + 1).toArrow().column(0).to_pylist()
    return None if len(rows) > _LOCAL_TC_MAX_EDGES else set(rows)


def local_extraction(
    spark: SparkSession,
    ont: Ontology,
    focus_ids,
    compute_rf2: bool,
    options,
    src_cl: Classified,
):
    """P2-P12 in-process for a source classified by the in-process kernel
    (``src_cl.local.ont is ont``).  Returns the ``ExtractionResult``, or
    None when a sub-ontology classification leaves the kernel's gate
    (the caller then runs the DataFrame pipeline)."""
    src = src_cl.local
    if isinstance(focus_ids, DataFrame):
        focus = _collect_small(focus_ids, "concept_id")
        if focus is None:
            return None
    else:
        focus = {int(i) for i in focus_ids}
    if compute_rf2:
        focus |= set(BROWSER_RF2_METADATA)
    reflexive = set()
    if options.reflexive_pv:
        reflexive = _collect_small(ont.reflexive_roles, "role_id")
        if reflexive is None:
            return None
    ctx = _Ctx(src, options, reflexive)
    t = src.tables

    # P2: focus authoring definitions; P3: focus GCI axioms — GCI names
    # that are ancestors of a focus concept, or attached to one
    fdefs = _abstract_definitions(ctx, focus)
    focus_axioms = _defs_to_axioms(fdefs.rows)
    focus_gcis = {
        g for g, sups in ctx.gci_super.items()
        if sups & focus or any(g in src.anc.get(f, ()) for f in focus)
    }
    if focus_gcis:
        focus_axioms |= _defs_to_axioms(_gci_authoring_definitions(ctx, focus_gcis), ctx.gci_super)
    focus_axiom_ids = {ax[0] for ax in focus_axioms}

    # P4-P7: expansion
    sup_axioms, defined, exp_new_pvs = _expansion_loop(ctx, focus, focus_axioms, fdefs.new_pvs)
    all_new_pvs = {**fdefs.new_pvs, **exp_new_pvs}
    sub_axioms = focus_axioms | sup_axioms
    work_pvs = {**t.pvs, **all_new_pvs}

    # P8: RBox; P9: groupers
    rbox = rbox_walk(t.subprops, _role_signature(sub_axioms, work_pvs))
    sub_sig = _class_signature(sub_axioms, work_pvs)
    stated_children = {
        ax[1] for ax in t.axioms
        if not ax[3] and ax[1] != SCT_TOP and ("c", SCT_TOP) in ax[5]
    }
    groupers = {a for d in sub_sig for a in src.anc.get(d, ()) if a in stated_children}
    sub_axioms |= _defs_to_axioms(_isa_rows((g, SCT_TOP) for g in groupers))
    groupers_all = groupers | {SCT_TOP}

    def classify_sub(axioms, seed=None):
        tables = LocalTables(
            axioms=list(axioms), pvs=work_pvs, subprops=sorted(rbox),
            role_chains=t.role_chains, transitive_roles=t.transitive_roles,
        )
        return _classify_tables(tables, ont, seed=seed)

    sub_cl = classify_sub(sub_axioms)
    if sub_cl is None:
        return None

    # P10: transitive-closure completion, then an incremental re-classify
    # (P10 only ADDED axioms, so the previous classification seeds it)
    sub_sig = _class_signature(sub_axioms, work_pvs)
    partials = (sub_sig - focus - defined) | groupers_all
    sub_axioms |= _complete_transitive_closure(src, sub_cl, sub_sig, partials)
    sub_cl = classify_sub(sub_axioms, seed=sub_cl)
    if sub_cl is None:
        return None

    # P11: shrink (re-classify from scratch after removals)
    shrunk = _shrink_hierarchy(sub_axioms, work_pvs, sub_cl.direct, focus, groupers_all, focus_axiom_ids)
    if shrunk is not None:
        sub_axioms = shrunk
        sub_cl = classify_sub(sub_axioms)
        if sub_cl is None:
            return None
    final_sig = _class_signature(sub_axioms, work_pvs)
    nnf = _nnf_definitions(ctx, sub_cl, final_sig, work_pvs)
    sig_props = _role_signature(sub_axioms, work_pvs) | {x for e in rbox for x in e}
    prop_defs = _property_definitions(rbox, sig_props)

    # P12: annotation transfer + Focus/Supporting tags
    entity_ids = final_sig | sig_props | _nnf_entity_ids(nnf.rows, prop_defs, work_pvs)
    entity_df = _ship_ids(spark, entity_ids, "concept_id")
    tagged = _ship(
        spark,
        [
            (
                c, "rdfs:comment",
                "Focus concept" if c in focus
                else "Supporting concept (with definition)" if c in defined
                else "Supporting concept",
            )
            for c in final_sig
        ],
        "entity_id long, prop string, value string",
    )
    transferred = ont.annotations.join(
        entity_df.withColumnRenamed("concept_id", "entity_id"), "entity_id", "left_semi"
    )
    sub = replace(
        ont,
        axioms=_ship_axioms(spark, sub_axioms),
        pvs=ont.pvs.unionByName(_ship_pvs(spark, all_new_pvs)).distinct(),
        subprops=_ship(spark, rbox, "child long, parent long"),
        annotations=transferred.unionByName(tagged).distinct(),
    )
    sub_cl.ont = sub  # the carrier's tables are the final subontology's
    return ExtractionResult(
        sub=sub,
        nnf_rows=_ship(spark, nnf.rows, DEF_SCHEMA),
        prop_defs=_ship(spark, prop_defs, "child long, parent long"),
        focus=_ship_ids(spark, focus, "concept_id"),
        defined_supporting=_ship_ids(spark, defined, "concept_id"),
        groupers=_ship_ids(spark, groupers_all, "concept_id"),
        undefined=_ship_ids(spark, nnf.undefined, "sub_id"),
        src_cl=src_cl,
        sub_cl=ship_classified(sub_cl),
        entity_ids=entity_df,
    )
