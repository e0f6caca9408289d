"""EL classification as iterative DataFrame closure — replaces ELK.

The reference delegates all hierarchy queries to ELK's precomputed class
taxonomy (OntologyReasoningService.java:25-29).  For the EL fragment the
pipeline exercises (conjunction + existential restriction + role
hierarchy/chains/transitivity; CheckComplexNesting.java:63), the
classified hierarchy is the least fixpoint of four rules over the stated
subsumption edge set:

  R-trans   a ⊑ b, b ⊑ c            ⟹ a ⊑ c        (semi-naive self-join)
  R-pv      pv1=∃r1.F1, pv2=∃r2.F2,
            r1 ⊑* r2, F1 ⊑* F2       ⟹ pv1 ⊑ pv2    (PV names rank like
                                                      classes because the
                                                      namer adds PV≡∃r.C,
                                                      IntroducedNameHandler.java:48-62)
  R-equiv   A ≡ C1⊓…⊓Cn, X ⊑* all Ci ⟹ X ⊑ A        (completes the ⟸
                                                      direction of ≡, incl.
                                                      GCI names GCI_j ≡ LHS)
  R-chain   X ⊑* ∃r.F, F ⊑* ∃s.G,
            r∘s ⊑ t (or r transitive) ⟹ X ⊑ ∃t.G     (existential
                                                      propagation onto
                                                      *named* PVs only)

Every rule is a join; the driver loop iterates to fixpoint with
``localCheckpoint`` per round to truncate lineage (the custom physical
strategy SURVEY.md §4 calls for — no Catalyst extension needed).

Scale notes (100 TB / 360k-concept closure): the closure table is the
hub-skew hot spot (SCT top is an ancestor of everything).  All consumers
join on the *desc* side or aggregate before joining; AQE skew-join is on
(session.py).  ``transitive_closure`` supports incremental extension so
re-classification after adding edges (SubOntologyExtractionHandler.java:186
re-classifies from scratch) only closes the delta.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .model import Ontology


from .util import chk as _chk
from .util import chk_n as _chk_n

# R-chain delta-first switch (tests monkeypatch MIN_CLOSURE to 0 to
# force the delta-first path on fixture-sized inputs): use the three
# delta-first join trees when the closure holds at least MIN_CLOSURE
# rows AND the round's TC delta is at most closure/RATIO — otherwise
# the fused delta-tagged tree (fewer query stages) wins.
DELTA_FIRST_MIN_CLOSURE = 2_000_000
DELTA_FIRST_RATIO = 20
# Δ-heavy rounds take the UNTAGGED chain tree when
# n_delta * ratio >= n_closure: the tagged union's per-site flag
# plumbing skips little when most rows are new, and the plain tree
# reuses the closure exchange at all three sites.  Default 8 is the
# measured 360k crossover (BENCH.md round-5: round 2 = 8M-row delta in
# a 57M-row closure ran 148.3 s untagged vs 181.5 s tagged, same
# window; byte-identical outputs).
_NAIVE_ROUND_RATIO = int(os.environ.get("SUBONT_NAIVE_ROUND_RATIO", "8"))


# explicit-broadcast safety valve for _anti_pairs: above this many
# distinct cand keys the broadcast (which bypasses
# autoBroadcastJoinThreshold) would itself be the driver/executor
# memory hazard, and the plain shuffled anti-join is the right plan.
# 8M longs ≈ 64 MB broadcast — comfortably inside executor memory at
# any realistic sizing, far above every measured frontier (the 360k
# stress peaks at ~1.5M keys in round 1).
_ANTI_BROADCAST_MAX_KEYS = int(os.environ.get("SUBONT_ANTI_BROADCAST_MAX_KEYS", "8000000"))


def _anti_pairs(
    cand: DataFrame,
    closure: DataFrame,
    n_cand: int | None = None,
    gate: bool = False,
) -> DataFrame:
    """cand \\ closure on (desc, anc), shaped for a SMALL cand against a
    huge closure: restrict the closure to cand's desc set with a
    broadcast semi-join FIRST (a scan of the cached closure, no closure
    shuffle), then anti-join small × small.  A plain left_anti against
    the full closure sort-merge-shuffles the whole closure every call —
    at the 360k stress that is a ~63M-row shuffle per fixpoint round.

    The explicit broadcast is size-gated (DELTA_FIRST threshold
    pattern): ``n_cand`` is a caller-known upper bound on cand's
    distinct desc keys (usually last round's delta count — free);
    ``gate=True`` pays one checkpoint+count job on the key set when no
    bound is known AND the closure is big enough for the fallback to
    matter.  Either way, above ``_ANTI_BROADCAST_MAX_KEYS`` the plain
    shuffled anti-join is used instead of an unbounded broadcast."""
    keys = cand.select(F.col("desc").alias("__k")).distinct()
    n_keys = n_cand
    if n_keys is None and gate:
        keys, n_keys = _chk_n(keys)
    if n_keys is not None and n_keys > _ANTI_BROADCAST_MAX_KEYS:
        return cand.join(closure, ["desc", "anc"], "left_anti")
    restricted = closure.join(F.broadcast(keys), closure["desc"] == F.col("__k"), "left_semi")
    return cand.join(restricted, ["desc", "anc"], "left_anti")


# ---------------------------------------------------------------------------
# Local fast path for transitive_closure — the "broadcast join" of closures.
#
# A distributed fixpoint pays one driver barrier + shuffle per depth level;
# at fixture/bench scale (tens of thousands of edges) those ~6-40 scheduler
# round-trips ARE the wall clock, while the closure itself fits in a few MB.
# Exactly like Spark's own small-side broadcast threshold, a size-gated
# driver-side computation is the right physical strategy for small inputs:
# collect the (bounded) edge set, close it in-process, and ship the result
# back as a single LocalRelation-backed DataFrame — one job in, one
# createDataFrame out, zero per-round barriers.  The distributed semi-naive
# path above the gate is byte-for-byte unchanged and remains the 100 TB /
# 360k-stress path (573k stated edges > the 200k gate; 63M-pair closures
# > the pairs cap).  Equivalence of the two paths is gated in
# tests/test_closure.py (randomized DAGs + cycles, both directions forced
# via SUBONT_LOCAL_TC).
#
# Incremental reuse: the returned DataFrame carries the node→ancestors map
# (``_subont_local_anc``); a seeded call whose seed carries the map stays
# local, so classify's per-round incremental closures at fixture scale run
# entirely without shuffles.  A seed WITHOUT the map (i.e. one computed by
# the distributed path) keeps the whole call distributed — no collect of an
# unbounded closure ever happens.
# ---------------------------------------------------------------------------

_LOCAL_TC_MAX_EDGES = int(os.environ.get("SUBONT_LOCAL_TC_MAX_EDGES", "200000"))
_LOCAL_TC_MAX_PAIRS = int(os.environ.get("SUBONT_LOCAL_TC_MAX_PAIRS", "3000000"))
# results at or above this many rows ship back via a one-file parquet
# scan (util.ship_local_table) instead of createDataFrame(pandas)
_LOCAL_SHIP_PARQUET_MIN = int(os.environ.get("SUBONT_LOCAL_SHIP_PARQUET_MIN", "100000"))


def _local_close(parents: dict, max_pairs: int) -> dict | None:
    """node → set(strict ancestors) for ``parents``: node → set(parent).

    Kahn topological pass (each node's set built once from finalized
    parent sets — total work = |closure| insertions); on a cycle, falls
    back to an in-process semi-naive pair loop (cycles only occur in the
    V1 rename-union oracle's tiny constructions).  Returns None if the
    closure exceeds ``max_pairs`` (caller falls back to distributed)."""
    children: dict = {}
    dep: dict = {}
    for c, ps in parents.items():
        dep[c] = len(ps)
        for p in ps:
            children.setdefault(p, []).append(c)
    from collections import deque

    q = deque(n for n in children if not parents.get(n))
    anc: dict = {}
    resolved = 0  # nodes WITH parents whose parent sets finalized
    total = 0
    while q:
        n = q.popleft()
        ps = parents.get(n)
        if ps:
            s = set(ps)
            for p in ps:
                a = anc.get(p)
                if a:
                    s |= a
            anc[n] = s
            total += len(s)
            if total > max_pairs:
                return None
        for ch in children.get(n, ()):
            dep[ch] -= 1
            if dep[ch] == 0:
                q.append(ch)
                resolved += 1
    if resolved < len(dep):
        return _local_close_seminaive(parents, max_pairs)
    return anc


def _local_close_seminaive(parents: dict, max_pairs: int) -> dict | None:
    """Cycle-tolerant twin: the same semi-naive frontier loop as the
    distributed path, over in-process pair sets.  Reflexive pairs are
    kept internally (they propagate through cycles) and stripped at the
    end, matching the distributed path's final strict filter."""
    closure = {(c, p) for c, ps in parents.items() for p in ps}
    delta = set(closure)
    while delta:
        new = set()
        for d, m in delta:
            for a in parents.get(m, ()):
                pr = (d, a)
                if pr not in closure:
                    new.add(pr)
        if not new:
            break
        closure |= new
        if len(closure) > max_pairs:
            return None
        delta = new
    anc: dict = {}
    for d, a in closure:
        if d != a:
            anc.setdefault(d, set()).add(a)
    return anc


def _close_pairs_np(child, parent, max_pairs: int):
    """Vectorized strict transitive closure over int64 edge arrays —
    the same semi-naive frontier loop as ``_local_close_seminaive`` but
    entirely in numpy/pandas C kernels (guide §4.2: hand whole batches
    to vectorized native libraries; the per-row python dict/set work was
    ~0.5 s of the 1 s isa_closure wall at sf0.1, this path is ~0.1 s).

    Node ids are factorized to a compact range so a pair packs into ONE
    int64 key (n ≤ 2·edge-gate ≪ 2^31, so n² never overflows); the
    accumulated closure is a sorted key array, per-round dedup is
    np.unique, and the frontier expansion is a searchsorted gather
    against the (sorted) edge arrays.  Returns (desc, anc) int64 arrays
    sorted by (desc, anc) — byte-identical to the dict kernel's output
    order — or None when the closure exceeds ``max_pairs`` (caller
    falls back to the distributed plan).  Cycles converge exactly like
    the in-process semi-naive fallback (reflexive pairs propagate and
    are stripped at the end)."""
    import numpy as np
    import pandas as pd

    vals = np.concatenate([child, parent])
    codes, uniq = pd.factorize(vals)
    uniq = np.asarray(uniq, dtype=np.int64)
    n = len(uniq)
    c = codes[: len(child)].astype(np.int64)
    p = codes[len(child):].astype(np.int64)
    keep = c != p
    ek = np.unique(c[keep] * n + p[keep])
    if len(ek) == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    c, p = ek // n, ek % n  # sorted by (c, p) — np.unique sorts keys
    if len(ek) > max_pairs:
        return None
    seen = ek
    dd, da = c, p
    while len(dd):
        i = np.searchsorted(c, da, "left")
        j = np.searchsorted(c, da, "right")
        cnt = j - i
        sel = cnt > 0
        if not sel.any():
            break
        cs = cnt[sel]
        tot = int(cs.sum())
        starts = np.repeat(i[sel], cs)
        offs = np.arange(tot) - np.repeat(np.cumsum(cs) - cs, cs)
        nk = np.unique(np.repeat(dd[sel], cs) * n + p[starts + offs])
        pos = np.minimum(np.searchsorted(seen, nk), len(seen) - 1)
        nk = nk[seen[pos] != nk]
        if len(nk) == 0:
            break
        seen = np.concatenate([seen, nk])
        seen.sort()
        if len(seen) > max_pairs:
            return None
        dd, da = nk // n, nk % n
    d_i, a_i = seen // n, seen % n
    keep = d_i != a_i
    d, a = uniq[d_i[keep]], uniq[a_i[keep]]
    o = np.lexsort((a, d))
    return d[o], a[o]


def _anc_dict_from_pairs(d, a) -> dict:
    """node → set(strict ancestors) from (desc, anc) arrays sorted by
    desc — the lazy twin of the dict the python kernel builds eagerly;
    consumers that need the map (seeded re-closure, direct-edge sweep)
    pay for it exactly once, and pure closure queries never do."""
    import numpy as np

    if len(d) == 0:
        return {}
    idx = np.flatnonzero(np.r_[True, d[1:] != d[:-1]])
    ends = np.r_[idx[1:], len(d)]
    al = a.tolist()
    dl = d[idx].tolist()
    return {dl[k]: set(al[i:j]) for k, (i, j) in enumerate(zip(idx, ends))}


def _get_local_anc(df: DataFrame | None) -> dict | None:
    """The closure's node→ancestors map, if it was computed by a local
    kernel: either attached eagerly (dict paths) or built on first use
    from the vectorized path's pair arrays (memoized on the DataFrame)."""
    if df is None:
        return None
    anc = getattr(df, "_subont_local_anc", None)
    if anc is None:
        fn = getattr(df, "_subont_local_anc_fn", None)
        if fn is not None:
            anc = fn()
            df._subont_local_anc = anc
    return anc


def _pairs_to_df(edges_df: DataFrame, d, a, name_a: str, name_b: str) -> DataFrame:
    """Ship (int64, int64) pair arrays back to Spark — same size-gated
    parquet/pandas split as ``_local_anc_to_df`` without the dict→array
    flatten."""
    spark = edges_df.sparkSession
    schema = f"{name_a} bigint, {name_b} bigint"
    n = len(d)
    if n == 0:
        return spark.createDataFrame([], schema)
    if n >= _LOCAL_SHIP_PARQUET_MIN:
        import pyarrow as pa

        from .util import ship_local_table

        tbl = pa.table({name_a: pa.array(d, pa.int64()), name_b: pa.array(a, pa.int64())})
        return ship_local_table(spark, tbl, schema)
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame({name_a: d, name_b: a}), schema=schema)


def _local_anc_to_df(edges_df: DataFrame, anc: dict, name_a: str, name_b: str) -> DataFrame:
    """One sorted LocalRelation-backed DataFrame from an ancestor map —
    sorted so fixture outputs stay deterministic run-over-run (the repo's
    byte-identical-builds invariant); int64 ids go through numpy lexsort
    + Arrow, everything else through a plain python sort."""
    spark = edges_df.sparkSession
    import pandas as pd

    t_child = edges_df.schema[0].dataType.simpleString()
    t_parent = edges_df.schema[1].dataType.simpleString()
    schema = f"{name_a} {t_child}, {name_b} {t_parent}"
    n = sum(len(s) for s in anc.values())
    if n == 0:
        return spark.createDataFrame([], schema)
    if t_child == "bigint" and t_parent == "bigint":
        import numpy as np

        d = np.empty(n, np.int64)
        a = np.empty(n, np.int64)
        i = 0
        for k, s in anc.items():
            m = len(s)
            d[i : i + m] = k
            a[i : i + m] = np.fromiter(s, np.int64, m)
            i += m
        o = np.lexsort((a, d))
        if n >= _LOCAL_SHIP_PARQUET_MIN:
            # large results go back as a one-file parquet scan instead of
            # a python-parallelized Arrow RDD: every downstream action on
            # the createDataFrame form re-pays a python deserialization
            # pass (~1.3 s/count at 640k rows vs 0.12 s on the scan)
            import pyarrow as pa

            from .util import ship_local_table

            tbl = pa.table(
                {name_a: pa.array(d[o], pa.int64()), name_b: pa.array(a[o], pa.int64())}
            )
            return ship_local_table(spark, tbl, schema)
        pdf = pd.DataFrame({name_a: d[o], name_b: a[o]})
    else:
        pairs = sorted((k, v) for k, s in anc.items() for v in s)
        pdf = pd.DataFrame(pairs, columns=[name_a, name_b])
    return spark.createDataFrame(pdf, schema=schema)


def _maybe_local_tc(
    edges: DataFrame,
    seed_closure: DataFrame | None,
    return_delta: bool,
    big: bool,
    edges_in: DataFrame | None = None,
) -> DataFrame | tuple[DataFrame, DataFrame] | None:
    mode = os.environ.get("SUBONT_LOCAL_TC", "auto")
    if mode == "off" or big:
        return None
    seed_anc = _get_local_anc(seed_closure)
    if seed_closure is not None and seed_anc is None:
        return None  # seed came from the distributed path: stay distributed
    # Arrow-batched collect of the (bounded) edge set; duplicates are
    # deduped in-process by the parent sets, so the caller's plan need
    # not pay a distinct shuffle first.  Count-gate + full collect
    # instead of limit(cap+1): the limit form scans in sequential driver
    # waves (1, 4, 16… partitions) at bench scale and, at production
    # scale, ships up to cap rows to the driver just to learn the input
    # is over the gate — the count ships nothing.
    if edges.count() > _LOCAL_TC_MAX_EDGES:
        return None
    pdf0 = edges.toPandas()
    if (
        seed_closure is None
        and not return_delta
        and len(pdf0.columns) == 2
        and str(pdf0.dtypes.iloc[0]) == "int64"
        and str(pdf0.dtypes.iloc[1]) == "int64"
    ):
        # unseeded int64 edges (no nulls — those surface as float64 /
        # object dtype): fully vectorized closure, pairs shipped straight
        # from the sorted arrays, anc map built lazily on first use
        import numpy as np

        res = _close_pairs_np(
            pdf0.iloc[:, 0].to_numpy(np.int64),
            pdf0.iloc[:, 1].to_numpy(np.int64),
            _LOCAL_TC_MAX_PAIRS,
        )
        if res is None:
            return None  # over the pairs cap: distributed plan
        d_arr, a_arr = res
        out = _pairs_to_df(edges, d_arr, a_arr, "desc", "anc")
        out._subont_local_anc_arrays = (d_arr, a_arr)
        out._subont_local_anc_fn = lambda da=d_arr, aa=a_arr: _anc_dict_from_pairs(da, aa)
        if edges_in is not None:
            # stash the ALREADY-COLLECTED edge arrays keyed by the
            # caller's DataFrame object: derive_direct_edges(closure,
            # edges=<same object>) then skips its own witness collect —
            # a third evaluation of the edge plan in the closure+direct
            # query shape (identity-checked, so a different witness
            # relation never reuses these rows)
            out._subont_local_src_edges = (
                edges_in,
                pdf0.iloc[:, 0].to_numpy(np.int64),
                pdf0.iloc[:, 1].to_numpy(np.int64),
            )
        return out
    col_c, col_p = pdf0.iloc[:, 0].tolist(), pdf0.iloc[:, 1].tolist()
    parents: dict = {}
    for c, p in zip(col_c, col_p):
        if c != p:
            parents.setdefault(c, set()).add(p)
    if seed_anc:
        for d, s in seed_anc.items():
            tgt = parents.get(d)
            if tgt is None:
                parents[d] = set(s)
            else:
                tgt |= s
    anc = _local_close(parents, _LOCAL_TC_MAX_PAIRS)
    if anc is None:
        return None
    out = _local_anc_to_df(edges, anc, "desc", "anc")
    out._subont_local_anc = anc
    if not return_delta:
        return out
    if seed_anc:
        delta_map: dict = {}
        for d, s in anc.items():
            old = seed_anc.get(d)
            new = s - old if old else s
            if new:
                delta_map[d] = new
        # match the distributed superset convention: the new edges are
        # always part of the returned delta
        for c, p in zip(col_c, col_p):
            if c != p:
                delta_map.setdefault(c, set()).add(p)
    else:
        delta_map = anc
    return out, _local_anc_to_df(edges, delta_map, "desc", "anc")


def transitive_closure(
    edges: DataFrame,
    seed_closure: DataFrame | None = None,
    max_rounds: int = 64,
    return_delta: bool = False,
    big: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Strict transitive closure of (child, parent) → (desc, anc).

    Semi-naive: each round extends only the frontier ``delta`` by one
    edge hop (A1 in SURVEY.md §2.2).  ``seed_closure``: an already-closed
    relation; new edges are closed against it incrementally instead of
    recomputing from scratch.

    ``return_delta``: also return the rows NOT already in the seed — the
    union of the new edges and every round's frontier (a superset of the
    true delta is fine for its consumer, the semi-naive rule evaluation
    in classify, which only uses it to bound candidate generation).
    """
    edges_in = edges
    edges = edges.select(F.col("child").alias("desc"), F.col("parent").alias("anc"))
    # local probe runs on the UN-deduped select (dedup happens in the
    # in-process parent sets) so the small-input path never pays the
    # distinct shuffle; the distributed path dedups as before
    local = _maybe_local_tc(edges, seed_closure, return_delta, big, edges_in=edges_in)
    if local is not None:
        return local
    edges = edges.distinct()
    if seed_closure is not None:
        base = seed_closure.select("desc", "anc").unionByName(edges).distinct()
    else:
        base = edges
    closure = _chk(base)
    # classic semi-naive: the frontier delta extends by ONE edge hop per
    # round, so each round joins the (shrinking) delta against the small
    # edge relation — never closure ⋈ closure, which squares the hub
    # skew (SCT-top / mega-repo ancestors).  When incremental, the seed
    # (already transitively closed) is folded into the hop once, so old
    # multi-hop paths collapse in a single round.
    # Explicit column renames everywhere: self-joins on the same plan are
    # re-selected with fresh names to avoid expression-id ambiguity.
    hop = (seed_closure.select("desc", "anc").unionByName(edges).distinct() if seed_closure is not None else edges)
    hop = hop.select(F.col("desc").alias("hop_desc"), F.col("anc").alias("hop_anc"))
    if seed_closure is not None:
        # SEEDED frontier: edges ∪ (seed ∘ edges) — every new pair
        # decomposes as s0 e1 s1 e2 … (si seed paths, ei new edges), so
        # one LEFT extension by the closed seed plus the loop's RIGHT
        # hop extensions reach them all.  Starting the loop from the
        # full closure instead (the previous form) re-ran a
        # closure ∘ closure hop — Σ_y |desc(y)|·|anc(y)| intermediate
        # rows — on EVERY classify round, which measured ~200 s/round at
        # the 360k stress even for <2k-edge deltas.
        left_ext = (
            seed_closure.select(F.col("desc").alias("s_desc"), F.col("anc").alias("s_anc"))
            .join(
                F.broadcast(edges.select(F.col("desc").alias("e_child"), F.col("anc").alias("e_anc"))),
                F.col("s_anc") == F.col("e_child"),
            )
            .select(F.col("s_desc").alias("desc"), F.col("e_anc").alias("anc"))
        )
        left_ext = left_ext.distinct()
        if big:
            # materialize the extension ONCE: _anti_pairs references its
            # input twice (key set + anti probe) and the gate's count
            # would otherwise evaluate this closure-scanning tree again
            left_ext, n_le = _chk_n(left_ext)
            new0 = _chk(_anti_pairs(left_ext, closure, n_cand=n_le))
        else:
            new0 = _chk(_anti_pairs(left_ext, closure))
        closure = closure.unionByName(new0)
        delta = new0.unionByName(edges).distinct()
        delta_parts = [edges, new0]
    else:
        delta = closure
        delta_parts = [closure]
    # per-round cost discipline: only the (shrinking) delta is
    # checkpointed; the accumulated closure is a lazy UNION of already-
    # checkpointed deltas, so nothing re-materializes the full closure
    # each round (round-1 profile: the per-round closure re-checkpoint
    # was ~half the fixpoint's serial cost).
    n_prev: int | None = None  # last delta count — bounds ext's desc keys
    n_total = 0  # accumulated closure size (self-adaptive big switch)
    for _ in range(max_rounds):
        ext = (
            delta.select(F.col("desc").alias("d_desc"), F.col("anc").alias("d_anc"))
            .join(hop, F.col("d_anc") == F.col("hop_desc"))
            .select(F.col("d_desc").alias("desc"), F.col("hop_anc").alias("anc"))
            .distinct()
        )
        if seed_closure is not None:
            # seeded frontiers are small — keep the closure un-shuffled.
            # ext's distinct descs ⊆ delta's descs, so last round's
            # delta count is a free upper bound for the broadcast gate;
            # in the first big round (no bound yet) materialize ext once
            # instead of letting the gate re-evaluate the hop tree.
            if big and n_prev is None:
                ext, n_ext = _chk_n(ext)
                delta = _anti_pairs(ext, closure, n_cand=n_ext)
            else:
                delta = _anti_pairs(ext, closure, n_cand=n_prev)
        elif n_total >= DELTA_FIRST_MIN_CLOSURE:
            # UNSEEDED at scale (the initial classify TC — measured
            # 219 s of the 360k classify): a plain left_anti sort-merge
            # re-shuffles the whole accumulated closure every round
            # (Σ_k |closure_k| pair-shuffles over ~17 depth levels).
            # Once the closure has grown past the big threshold,
            # materialize the one-hop extension and switch to the
            # broadcast-restricted anti (closure scanned, not shuffled).
            # Self-adaptive via the per-round counts already being paid.
            ext, n_ext = _chk_n(ext)
            delta = _anti_pairs(ext, closure, n_cand=n_ext)
        else:
            delta = ext.join(closure, ["desc", "anc"], "left_anti")
        delta, n = _chk_n(delta)
        n_prev = n
        n_total += n
        if n == 0:
            break
        closure = closure.unionByName(delta)
        delta_parts.append(delta)
    else:
        raise RuntimeError("transitive_closure: max_rounds exceeded")
    out = closure.filter(F.col("desc") != F.col("anc"))
    if return_delta:
        delta_out = delta_parts[0]
        for p in delta_parts[1:]:
            delta_out = delta_out.unionByName(p)
        return out, delta_out.filter(F.col("desc") != F.col("anc"))
    return out


def _local_direct_np(
    closure_df: DataFrame,
    d_arr,
    a_arr,
    edges_df: DataFrame | None,
    edge_arrays=None,
):
    """Vectorized twin of ``_local_direct`` for array-backed closures
    (the unseeded vectorized-TC output): the witness sweep runs as a
    searchsorted gather + packed-key setdiff in numpy C kernels instead
    of a python dict-of-sets build (~0.4 s) + per-mark set.add loop
    (~1-2 s at the 640k-pair bench closure).  Same 20M-mark work cap,
    same strict-closure semantics, byte-identical (child, parent)
    ordering.  Returns None → caller falls back (dict path or
    distributed plan)."""
    import numpy as np
    import pandas as pd

    if edge_arrays is not None:
        ec, ep = edge_arrays  # witness rows already collected by the TC probe
    elif edges_df is not None:
        pdf = edges_df.limit(_LOCAL_TC_MAX_EDGES + 1).toPandas()
        if len(pdf) > _LOCAL_TC_MAX_EDGES:
            return None
        if len(pdf.columns) != 2 or not all(
            str(t) == "int64" for t in pdf.dtypes
        ):
            return None  # nulls / non-int ids: use the dict or distributed path
        ec = pdf.iloc[:, 0].to_numpy(np.int64)
        ep = pdf.iloc[:, 1].to_numpy(np.int64)
    else:
        ec, ep = d_arr, a_arr  # the closure is its own last-hop witness set
    nd = len(d_arr)
    vals = np.concatenate([d_arr, a_arr, ec, ep])
    codes, uniq = pd.factorize(vals)
    n = len(uniq)
    dc = codes[:nd].astype(np.int64)
    ac = codes[nd : 2 * nd].astype(np.int64)
    ecc = codes[2 * nd : 2 * nd + len(ec)].astype(np.int64)
    epc = codes[2 * nd + len(ec) :].astype(np.int64)
    # closure sorted by anc: descendants of m are one contiguous slice
    o = np.argsort(ac, kind="stable")
    ac_s, dc_s = ac[o], dc[o]
    lo = np.searchsorted(ac_s, ecc, "left")
    hi = np.searchsorted(ac_s, ecc, "right")
    cnt = hi - lo
    if int(cnt.sum()) > 20_000_000:
        return None
    sel = cnt > 0
    cs = cnt[sel]
    if len(cs):
        tot = int(cs.sum())
        starts = np.repeat(lo[sel], cs)
        offs = np.arange(tot) - np.repeat(np.cumsum(cs) - cs, cs)
        # mark (descendant-of-m, p) for each witness edge (m, p);
        # n ≤ 2·edge-gate + closure nodes ≪ 2^31, so keys pack into int64
        nond = np.unique(dc_s[starts + offs] * n + np.repeat(epc[sel], cs))
    else:
        nond = np.empty(0, np.int64)
    clo_keys = dc * n + ac
    if len(nond):
        pos = np.minimum(np.searchsorted(nond, clo_keys), len(nond) - 1)
        keep = nond[pos] != clo_keys
    else:
        keep = np.ones(nd, bool)
    d_out, a_out = d_arr[keep], a_arr[keep]
    o2 = np.lexsort((a_out, d_out))
    return _pairs_to_df(closure_df, d_out[o2], a_out[o2], "child", "parent")


def _direct_map(anc: dict, elist) -> dict | None:
    """In-process witness-form direct edges: node → set(direct parents)
    from a strict ancestor map and its (last-hop) witness edge list.
    Work-capped: None when the sweep would exceed ~20M marks."""
    desc: dict = {}
    for d, s in anc.items():
        for a in s:
            desc.setdefault(a, []).append(d)
    nond: set = set()
    work = 0
    for m, p in elist:
        ds = desc.get(m)
        if not ds:
            continue
        work += len(ds)
        if work > 20_000_000:
            return None
        for d in ds:
            nond.add((d, p))
    out_map: dict = {}
    for d, s in anc.items():
        keep = {a for a in s if (d, a) not in nond}
        if keep:
            out_map[d] = keep
    return out_map


def _local_direct(closure_df: DataFrame, anc: dict, edges_df: DataFrame | None):
    """In-process witness-form direct-edge derivation for a closure that
    carries the local ancestor map.  Work-capped: returns None (caller
    falls back to the distributed plan) when the witness sweep would
    exceed ~20M in-process marks."""
    if edges_df is not None:
        pdf = edges_df.limit(_LOCAL_TC_MAX_EDGES + 1).toPandas()
        if len(pdf) > _LOCAL_TC_MAX_EDGES:
            return None
        elist = list(zip(pdf.iloc[:, 0].tolist(), pdf.iloc[:, 1].tolist()))
    else:
        elist = [(d, a) for d, s in anc.items() for a in s]
    out_map = _direct_map(anc, elist)
    if out_map is None:
        return None
    return _local_anc_to_df(closure_df, out_map, "child", "parent")


def derive_direct_edges(closure: DataFrame, edges: DataFrame | None = None) -> DataFrame:
    """Direct ('told+inferred nearest') edges from a strict closure.

    anc is a *direct* parent of desc iff no z with desc ⊏ z ⊏ anc
    (A3 in SURVEY.md §2.2; ELK reasoner.getSuperClasses(cls, true)).

    When the generating edge set is available, pairs-with-intermediate
    are computed as closure ⋈ edges (sufficient: any ≥2-step pair has a
    last-hop edge witness) — linear in |edges| instead of the
    closure ⋈ closure square, and far lighter on hub-ancestor skew.
    """
    if os.environ.get("SUBONT_LOCAL_TC", "auto") != "off":
        arrs = getattr(closure, "_subont_local_anc_arrays", None)
        if arrs is not None:
            src = getattr(closure, "_subont_local_src_edges", None)
            edge_arrays = (
                (src[1], src[2])
                if src is not None and edges is not None and src[0] is edges
                else None
            )
            out = _local_direct_np(closure, arrs[0], arrs[1], edges, edge_arrays)
            if out is not None:
                return out
        anc_map = _get_local_anc(closure)
        if anc_map is not None:
            out = _local_direct(closure, anc_map, edges)
            if out is not None:
                return out
    if edges is not None:
        b = edges.select(F.col("child").alias("b_desc"), F.col("parent").alias("b_anc"))
    else:
        b = closure.select(F.col("desc").alias("b_desc"), F.col("anc").alias("b_anc"))
    a = closure.select(F.col("desc").alias("a_desc"), F.col("anc").alias("a_anc"))
    with_mid = (
        a.join(b, F.col("a_anc") == F.col("b_desc"))
        .select(F.col("a_desc").alias("desc"), F.col("b_anc").alias("anc"))
        .distinct()
    )
    return closure.join(with_mid, ["desc", "anc"], "left_anti").select(
        F.col("desc").alias("child"), F.col("anc").alias("parent")
    )


@dataclass
class Classified:
    """The reasoner surface: every downstream operator joins these.

    closure        — strict (desc, anc), PV/GCI names included
    direct         — nearest parents (child, parent)
    non_primitive  — ids having an EquivalentClasses axiom
                     (OntologyReasoningService.java:194-196: primitive =
                     no equivalence axiom in the *renamed* ontology, so
                     PV and GCI names are non-primitive)
    prop_closure   — strict role hierarchy closure (child, parent)
    pv_names / gci_names — the introduced-name dictionaries as DFs
    gen_edges      — the GENERATING edge set (child, parent): stated
                     edges ∪ every rule-derived edge ∪ the seed's
                     generating edges.  closure == TC(gen_edges), so
                     any ≥2-step closure pair has a last-hop witness in
                     gen_edges — the witness set that keeps direct-edge
                     derivation linear in |edges| instead of the
                     closure ⋈ closure hub-skew square.
    """

    closure: DataFrame
    direct: DataFrame
    non_primitive: DataFrame
    prop_closure: DataFrame
    pv_names: DataFrame
    gci_names: DataFrame
    gen_edges: DataFrame
    # set when the surfaces were shipped from the in-process kernel
    local: "LocalClassified | None" = field(default=None, repr=False, compare=False)

    def has_gci_names(self) -> bool:
        """Whether the classification introduced any GCI names — cached:
        the NNF generator's GCI-bypass loop probes this once per batch
        (one Spark job each) though it is fixed per classification."""
        cached = getattr(self, "_has_gci_names", None)
        if cached is None:
            cached = not self.gci_names.isEmpty()
            self._has_gci_names = cached
        return cached

    def ancestors_of(self, ids: DataFrame, id_col: str = "concept_id") -> DataFrame:
        """Distinct strict ancestors of a set (batched A2)."""
        return (
            self.closure.join(ids.withColumnRenamed(id_col, "desc"), "desc", "left_semi")
            .select(F.col("anc"))
            .distinct()
        )

    def descendants_of(self, ids: DataFrame, id_col: str = "concept_id") -> DataFrame:
        return (
            self.closure.join(ids.withColumnRenamed(id_col, "anc"), "anc", "left_semi")
            .select(F.col("desc"))
            .distinct()
        )

    def entails(self, pairs: DataFrame) -> DataFrame:
        """A9: batched entailment — for (sub_id, super_id) rows, add an
        ``entailed`` flag (reflexive ⊑ counts, like ELK isEntailed;
        OntologyReasoningService.java:235-237)."""
        hit = self.closure.select(
            F.col("desc").alias("sub_id"), F.col("anc").alias("super_id")
        ).withColumn("__hit", F.lit(True))
        return (
            pairs.join(hit, ["sub_id", "super_id"], "left")
            .withColumn(
                "entailed",
                (F.col("sub_id") == F.col("super_id")) | F.coalesce(F.col("__hit"), F.lit(False)),
            )
            .drop("__hit")
        )

    def is_consistent(self) -> bool:
        """V5: EL ontologies without ⊥-axioms are always consistent; the
        check degenerates to the cycle assertion classify() already
        enforces (tools/ConsistencyEntailmentChecker.java:16-45)."""
        return True


def _pv_conjuncts(ont: Ontology) -> DataFrame:
    """(pv_id, role_id, kind, cref): simple filler as a single 'c'
    conjunct, complex filler exploded.  A data PV's literal becomes a
    value-hash pseudo-conjunct ('v' kind): literals subsume only on
    EQUALITY, so the coverage test's eq-match path gives exactly
    DataHasValue(r1,v) ⊑ DataHasValue(r2,v) ⟸ r1 ⊑* r2 (the closure
    never relates value hashes, so the ⊑-match path can't fire)."""
    simple = ont.pvs.filter(F.col("filler_concept").isNotNull()).select(
        "pv_id", "role_id", F.lit("c").alias("kind"), F.col("filler_concept").alias("cref")
    )
    data = ont.pvs.filter(F.col("is_data")).select(
        "pv_id",
        "role_id",
        F.lit("v").alias("kind"),
        (
            -F.conv(
                F.substring(F.md5(F.concat(F.lit("lit|"), F.col("value"))), 1, 15), 16, 10
            ).cast("long").bitwiseOR(F.lit(1))
        ).alias("cref"),
    )
    complex_ = (
        ont.pvs.filter(F.col("filler_concept").isNull() & ~F.col("is_data"))
        .select("pv_id", "role_id", F.explode("filler_refs").alias("r"))
        .select("pv_id", "role_id", F.col("r.kind").alias("kind"), F.col("r.ref_id").alias("cref"))
    )
    return simple.unionByName(data).unionByName(complex_)


def _covered_pairs(
    left_conj: DataFrame, right_conj: DataFrame, closure: DataFrame,
    left_id: str, right_id: str,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Pairs (L, R) where every conjunct of R is ⊒ some conjunct of L
    (conjunct-coverage test shared by R-pv and R-equiv).

    ``pairs`` (optional, columns L/R): restrict the test to these
    candidate pairs — the semi-naive path where candidates are the pairs
    that gained a new ⊑-witness this round.  Coverage is monotone and
    needs ALL matches per pair, so the restricted test still evaluates
    the full match set (old + new) for each candidate."""
    lc = left_conj.select(F.col(left_id).alias("L"), F.col("cref").alias("lcref"))
    rc = right_conj.select(F.col(right_id).alias("R"), F.col("cref").alias("rcref"))
    if pairs is not None:
        lc = lc.join(pairs.select("L").distinct(), "L", "left_semi")
        rc = rc.join(pairs.select("R").distinct(), "R", "left_semi")
    n_right = rc.groupBy("R").agg(F.count("*").alias("n_conj"))
    clo = closure.select(F.col("desc").alias("cl_desc"), F.col("anc").alias("cl_anc"))
    eq_match = lc.join(rc, F.col("lcref") == F.col("rcref"))
    sub_match = lc.join(clo, F.col("lcref") == F.col("cl_desc")).join(
        rc, F.col("cl_anc") == F.col("rcref")
    )
    matches = (
        eq_match.select("L", "R", F.col("rcref").alias("cref"))
        .unionByName(sub_match.select("L", "R", F.col("rcref").alias("cref")))
        .distinct()
    )
    if pairs is not None:
        matches = matches.join(pairs, ["L", "R"], "left_semi")
    return (
        matches.groupBy("L", "R")
        .agg(F.count("*").alias("n_match"))
        .join(n_right, "R")
        .filter(F.col("n_match") == F.col("n_conj"))
        .select("L", "R")
    )


# ---------------------------------------------------------------------------
# Local fast path for classify — the whole-problem analogue of the local TC
# kernel above.  A fixture-/subontology-sized classification (the CLI e2e,
# unit tests, and every SUB-ontology re-classify inside the extraction
# pipeline — a subontology is a human-curated extract, bounded by
# construction) spends its wall clock on 35-100 scheduler round-trips per
# call while the data fits in a few MB.  Below the axiom/PV gates the four
# rules run in-process over dict-of-set indexes and the result ships back as
# LocalRelations; above them (e.g. the 360k stress source ontology at 573k
# axiom rows) the distributed fixpoint below is byte-for-byte unchanged.
# Equivalence of the two paths is gated in tests/test_closure.py (fixture +
# randomized synthetic ontologies, seeded and unseeded, both directions
# forced via SUBONT_LOCAL_CLASSIFY).
#
# Three steps: bounded collects (_collect_local_tables), the rule engine
# over those in-memory tables (_classify_tables), and shipping
# (ship_classified).  The shipped Classified keeps the engine's result as
# its ``local`` carrier, so a seeded re-classify and the in-process
# extraction (pipeline_local) reuse it without re-collecting anything.
# ---------------------------------------------------------------------------

_LOCAL_CLASSIFY_MAX_AXIOMS = int(os.environ.get("SUBONT_LOCAL_CLASSIFY_MAX_AXIOMS", "50000"))
_LOCAL_CLASSIFY_MAX_PVS = int(os.environ.get("SUBONT_LOCAL_CLASSIFY_MAX_PVS", "25000"))


def _local_ids_to_df(spark, ids, name: str) -> DataFrame:
    import pandas as pd

    if not ids:
        return spark.createDataFrame([], f"{name} long")
    return spark.createDataFrame(
        pd.DataFrame({name: sorted(ids)}), schema=f"{name} long"
    )


@dataclass
class LocalTables:
    """An ontology's tables as driver-side python values (ids stay exact
    ints; Arrow collects never round-trip a nullable long through
    float64).

    axioms — (axiom_id, sub_id, is_equiv, is_gci, gci_super, rhs) with
             rhs a tuple of (kind, ref_id) pairs
    pvs    — pv_id → (role_id, filler_concept, filler_refs, is_data,
             value), filler_refs a tuple of (kind, ref_id) pairs or None
    """

    axioms: list
    pvs: dict
    subprops: list        # (child, parent)
    role_chains: list     # (super_role, left_role, right_role)
    transitive_roles: list


def _refs(refs) -> tuple | None:
    return None if refs is None else tuple((r["kind"], r["ref_id"]) for r in refs)


def _collect_local_tables(ont: Ontology) -> LocalTables | None:
    """Bounded Arrow collects of the tables classify reads, cheapest
    bail-out first (at production scale the first limit-collect is one
    metadata-sized job and the caller falls through to the distributed
    fixpoint).  None when any table is over its gate."""

    def rows(df, cap):
        out = df.limit(cap + 1).toArrow().to_pylist()
        return None if len(out) > cap else out

    ax = rows(ont.axioms, _LOCAL_CLASSIFY_MAX_AXIOMS)
    if ax is None:
        return None
    pv = rows(ont.pvs, _LOCAL_CLASSIFY_MAX_PVS)
    if pv is None:
        return None
    # same limit-gate as every other kernel collect: a pathological RBox
    # must fall back distributed, never pull unbounded rows to the driver
    sp = rows(ont.subprops, _LOCAL_TC_MAX_EDGES)
    if sp is None:
        return None
    rc = rows(ont.role_chains, _LOCAL_TC_MAX_EDGES)
    if rc is None:
        return None
    tr = rows(ont.transitive_roles, _LOCAL_TC_MAX_EDGES)
    if tr is None:
        return None
    return LocalTables(
        axioms=[
            (r["axiom_id"], r["sub_id"], r["is_equiv"], r["is_gci"], r["gci_super"], _refs(r["rhs"]))
            for r in ax
        ],
        pvs={
            r["pv_id"]: (r["role_id"], r["filler_concept"], _refs(r["filler_refs"]), r["is_data"], r["value"])
            for r in pv
        },
        subprops=[(r["child"], r["parent"]) for r in sp],
        role_chains=[(r["super_role"], r["left_role"], r["right_role"]) for r in rc],
        transitive_roles=[r["role_id"] for r in tr],
    )


@dataclass
class LocalClassified:
    """The in-process classification a ``Classified`` was shipped from:
    the collected inputs, the ``Ontology`` object they came from, and
    the rule engine's maps.  Consumers that hold this carrier (the
    seeded re-classify, the in-process extraction) never re-collect."""

    tables: LocalTables
    ont: Ontology
    anc: dict              # node → set(strict ancestors): the closure
    gen: set               # generating (child, parent) edges
    direct: dict           # node → set(direct parents)
    prop_anc: dict         # role → set(strict super-roles)
    non_primitive: set
    pv_ids: set
    gci_ids: set
    cp_map: dict | None = None  # D4 closest-primitive map, built on first use


def _classify_tables(
    t: LocalTables,
    ont: Ontology,
    max_rounds: int = 12,
    allow_equivalences: bool = False,
    seed: LocalClassified | None = None,
) -> LocalClassified | None:
    """The four rules to fixpoint over in-memory tables.  None when the
    closure grows past the pair cap (caller goes distributed)."""
    edges: set = set()
    equivs: list = []  # (sub_id, conj list) for is_equiv rows (GCIs included)
    gci_ids: set = set()
    equiv_subs: set = set()
    for _aid, sub, is_eq, is_gci, gsup, rhs in t.axioms:
        refs = [r for _k, r in rhs]
        for ref in refs:
            if sub != ref:
                edges.add((sub, ref))
        if is_gci:
            gci_ids.add(sub)
            if gsup is not None and sub != gsup:
                edges.add((sub, gsup))
        if is_eq:
            equivs.append((sub, refs))
            equiv_subs.add(sub)

    # pv conjunct sets mirroring _pv_conjuncts (data literals become
    # equality-only pseudo-conjuncts: a tuple key never equals an id and
    # never appears in the closure, so it matches on equality alone)
    pv_conj: dict = {}
    pv_role: dict = {}
    simple_by_id: dict = {}     # pv_id -> (role, filler)
    simple_by_rf: dict = {}     # (role, filler) -> [pv_id]
    for pid, (role, filler, frefs, is_data, value) in t.pvs.items():
        pv_role[pid] = role
        if filler is not None:
            pv_conj[pid] = {filler}
            simple_by_id[pid] = (role, filler)
            simple_by_rf.setdefault((role, filler), []).append(pid)
        elif is_data:
            pv_conj[pid] = {("v", value)}
        else:
            pv_conj[pid] = {r for _k, r in frefs or ()}

    # role machinery: strict subproperty closure + reflexive compat
    sp_parents: dict = {}
    for c, p in t.subprops:
        if c != p:
            sp_parents.setdefault(c, set()).add(p)
    prop_anc = _local_close(sp_parents, _LOCAL_TC_MAX_PAIRS)
    if prop_anc is None:
        return None

    def role_ok(r1, r2) -> bool:
        return r1 == r2 or r2 in prop_anc.get(r1, ())

    chains = list(t.role_chains) + [(r, r, r) for r in t.transitive_roles]

    # static per-chain pv1/pv2 candidate lists (role compat is loop-invariant)
    chain_sites = []
    for sup, sl, sr in chains:
        pv1s = [(p, rf[1]) for p, rf in simple_by_id.items() if role_ok(rf[0], sl)]
        if pv1s:
            chain_sites.append((sup, sr, pv1s))

    # ---- fixpoint ----------------------------------------------------------
    parents: dict = {}
    for c, p in edges:
        parents.setdefault(c, set()).add(p)
    gen: set = set(edges)
    if seed is not None:
        for d, s in seed.anc.items():
            parents.setdefault(d, set()).update(s)
        gen |= seed.gen

    rvals: set = set()
    for cs in pv_conj.values():
        rvals |= cs

    anc = None
    for _round in range(max_rounds):
        anc = _local_close(parents, _LOCAL_TC_MAX_PAIRS)
        if anc is None:
            return None  # grew past the pair cap mid-fixpoint: go distributed

        derived: set = set()

        # ---- R-pv: pv1 ⊑ pv2 (conjunct coverage + role compat) ------------
        down: dict = {}
        for L, cs in pv_conj.items():
            for c in cs:
                if c in rvals:
                    down.setdefault(c, set()).add(L)
                for a in anc.get(c, ()):
                    if a in rvals:
                        down.setdefault(a, set()).add(L)
        for R, cs in pv_conj.items():
            sets = []
            ok = True
            for c in cs:
                s = down.get(c)
                if not s:
                    ok = False
                    break
                sets.append(s)
            if not ok:
                continue
            sets.sort(key=len)
            cand = sets[0]
            for s in sets[1:]:
                cand = cand & s
                if not cand:
                    break
            r2 = pv_role[R]
            for L in cand:
                if L != R and role_ok(pv_role[L], r2):
                    derived.add((L, R))

        # ---- R-equiv: X ⊑ A for A ≡ C1⊓…⊓Cn -------------------------------
        desc: dict = {}
        for d, s in anc.items():
            for a in s:
                desc.setdefault(a, set()).add(d)
        for sub, refs in equivs:
            cand = None
            for v in refs:
                s = desc.get(v)
                s = (s | {v}) if s else {v}
                cand = s if cand is None else (cand & s)
                if not cand:
                    break
            for X in cand or ():
                if X != sub:
                    derived.add((X, sub))

        # ---- R-chain: named-PV existential propagation --------------------
        # deriving (pv1 → tgt) suffices: every X ⊑* pv1 reaches tgt through
        # the next closure round (the distributed rule emits (X, tgt) rows
        # directly, but TC(gen ∪ {(pv1,tgt)}) contains exactly those pairs)
        for sup, sr, pv1s in chain_sites:
            for pv1, f1 in pv1s:
                f1_up = anc.get(f1)
                cands = {f1} | f1_up if f1_up else (f1,)
                for pv2 in cands:
                    rf = simple_by_id.get(pv2)
                    if rf is None or not role_ok(rf[0], sr):
                        continue
                    g = rf[1]
                    g_up = anc.get(g)
                    for g2 in ({g} | g_up if g_up else (g,)):
                        for tgt in simple_by_rf.get((sup, g2), ()):
                            if pv1 != tgt:
                                derived.add((pv1, tgt))

        new = {
            (c, p) for c, p in derived
            if c != p and p not in anc.get(c, ()) and p not in parents.get(c, ())
        }
        if not new:
            break
        gen |= new
        for c, p in new:
            parents.setdefault(c, set()).add(p)
    else:
        raise RuntimeError("classify: rule fixpoint did not converge")

    if not allow_equivalences:
        for d, s in anc.items():
            for a in s:
                if d in anc.get(a, ()):
                    raise ValueError(
                        "equivalent-class cycle detected; unsupported (reference assumes none)"
                    )

    # witness sweep with gen as the (bounded) witness set
    direct = _direct_map(anc, gen)
    if direct is None:
        return None
    pv_ids = set(t.pvs)
    return LocalClassified(
        tables=t, ont=ont, anc=anc, gen=gen, direct=direct, prop_anc=prop_anc,
        non_primitive=equiv_subs | pv_ids, pv_ids=pv_ids, gci_ids=gci_ids,
    )


def ship_classified(loc: LocalClassified) -> "Classified":
    """The ``Classified`` surfaces of an in-process classification, as
    LocalRelations (parquet scans above the ship threshold) — zero jobs.
    The closure keeps its ancestor map for the local reduce kernels."""
    ont = loc.ont
    spark = ont.axioms.sparkSession
    tmpl = ont.axioms.select(
        F.col("sub_id").alias("child"), F.col("sub_id").alias("parent")
    )
    closure_df = _local_anc_to_df(tmpl, loc.anc, "desc", "anc")
    closure_df._subont_local_anc = loc.anc
    gen_map: dict = {}
    for c, p in loc.gen:
        gen_map.setdefault(c, set()).add(p)
    return Classified(
        closure=closure_df,
        direct=_local_anc_to_df(tmpl, loc.direct, "child", "parent"),
        non_primitive=_local_ids_to_df(spark, loc.non_primitive, "id"),
        prop_closure=_local_anc_to_df(tmpl, loc.prop_anc, "desc", "anc"),
        pv_names=_local_ids_to_df(spark, loc.pv_ids, "pv_id"),
        gci_names=_local_ids_to_df(spark, loc.gci_ids, "gci_id"),
        gen_edges=_local_anc_to_df(tmpl, gen_map, "child", "parent"),
        local=loc,
    )


def _maybe_local_classify(
    ont: Ontology,
    max_rounds: int,
    allow_equivalences: bool,
    seed: "Classified | None",
) -> "Classified | None":
    if os.environ.get("SUBONT_LOCAL_CLASSIFY", "auto") == "off":
        return None
    if seed is not None and seed.local is None:
        return None  # seed came from the distributed path: stay distributed
    tables = _collect_local_tables(ont)
    if tables is None:
        return None
    loc = _classify_tables(
        tables, ont, max_rounds, allow_equivalences, seed.local if seed is not None else None
    )
    return ship_classified(loc) if loc is not None else None


def classify(
    ont: Ontology,
    max_fixpoint_rounds: int = 12,
    allow_equivalences: bool = False,
    seed: "Classified | None" = None,
    naive: bool = False,
    progress: bool = False,
) -> Classified:
    """Full classification (A1): least fixpoint of the four rules.

    Rule evaluation is SEMI-NAIVE after round 1: each rule re-derives
    only pairs whose support intersects the closure delta added by the
    previous round (candidate generation from Δ, full re-check for those
    candidates only) — at production scale the full closure is tens of
    millions of rows and re-deriving every coverage pair per round is
    the quadratic hazard.  ``naive=True`` forces full re-evaluation each
    round (the brute-force twin used as an equivalence oracle in
    tests/test_closure.py).

    ``allow_equivalences``: skip the A4 named-equivalence-cycle assertion
    — required by the V1 rename-union oracle, whose whole construction
    makes each focus concept provably equivalent to its renamed copy
    (VerificationChecker.java:94-99 checks getEquivalentClasses).

    ``seed``: a prior classification of a SUB-ontology (axioms ⊆ current
    axioms).  EL is monotone, so every seeded closure pair stays entailed
    — the base closure folds the seed in one incremental round instead of
    re-deriving every path (the reference re-classifies from scratch,
    SubOntologyExtractionHandler.java:186).  Do NOT seed after axiom
    REMOVAL (e.g. the P11 shrink) — monotonicity is the soundness
    argument."""
    import time as _time0

    _t_init = _time0.time()
    # size-gated local kernel (naive=True stays distributed so the
    # brute-force oracle remains an independent implementation)
    if not naive:
        loc = _maybe_local_classify(ont, max_fixpoint_rounds, allow_equivalences, seed)
        if loc is not None:
            return loc
    # ---- stated edges ----------------------------------------------------
    stated = (
        ont.axioms.select("sub_id", F.explode("rhs").alias("r"))
        .select(F.col("sub_id").alias("child"), F.col("r.ref_id").alias("parent"))
    )
    gci_super_edges = (
        ont.axioms.filter(F.col("is_gci"))
        .select(F.col("sub_id").alias("child"), F.col("gci_super").alias("parent"))
    )
    edges = stated.unionByName(gci_super_edges).filter(F.col("child") != F.col("parent")).distinct()

    # ---- role hierarchy (tiny; A8) --------------------------------------
    prop_closure = transitive_closure(ont.subprops)
    # genuinely REFLEXIVE role compatibility: strict role closure ∪
    # identity over every mentioned role.  One tiny broadcastable table
    # lets each rule site test r ⊑* s with a single (semi-)join — the
    # previous equality-branch ∪ strict-walk pattern evaluated its
    # closure-scanning input subtree TWICE per site, doubling the rule
    # stages per fixpoint round.
    role_ids = (
        ont.pvs.select(F.col("role_id").alias("r"))
        .unionByName(ont.subprops.select(F.col("child").alias("r")))
        .unionByName(ont.subprops.select(F.col("parent").alias("r")))
        .unionByName(ont.role_chains.select(F.col("super_role").alias("r")))
        .unionByName(ont.role_chains.select(F.col("left_role").alias("r")))
        .unionByName(ont.role_chains.select(F.col("right_role").alias("r")))
        .unionByName(ont.transitive_roles.select(F.col("role_id").alias("r")))
        .distinct()
    )
    role_compat = (
        prop_closure.select(F.col("desc").alias("r_child"), F.col("anc").alias("r_parent"))
        .unionByName(role_ids.select(F.col("r").alias("r_child"), F.col("r").alias("r_parent")))
        .distinct()
        .localCheckpoint(eager=False)
    )

    pv_conj = _pv_conjuncts(ont).localCheckpoint(eager=False)
    pv_names = ont.pvs.select("pv_id").distinct()
    gci_names = ont.axioms.filter(F.col("is_gci")).select(F.col("sub_id").alias("gci_id")).distinct()

    equiv_conj = (
        ont.axioms.filter(F.col("is_equiv"))
        .select("axiom_id", "sub_id", F.explode("rhs").alias("r"))
        .select("axiom_id", "sub_id", F.col("r.kind").alias("kind"), F.col("r.ref_id").alias("cref"))
        .localCheckpoint(eager=False)
    )

    # chains: r∘s ⊑ t, plus transitivity as r∘r ⊑ r
    chains = ont.role_chains.unionByName(
        ont.transitive_roles.select(
            F.col("role_id").alias("super_role"),
            F.col("role_id").alias("left_role"),
            F.col("role_id").alias("right_role"),
        )
    ).localCheckpoint(eager=False)
    simple_pvs = ont.pvs.filter(F.col("filler_concept").isNotNull()).select(
        "pv_id", "role_id", "filler_concept"
    ).localCheckpoint(eager=False)

    closure = transitive_closure(edges, seed_closure=seed.closure if seed is not None else None)
    have_chains = not chains.isEmpty()  # hoisted: one action, not one per round

    # generating edge set accumulator: closure stays TC(gen_edges) as an
    # invariant, giving derive_direct_edges its witness set (the seeded
    # case folds in the seed's own generating edges — seed.closure pairs
    # may have no last-hop witness among the current stated edges)
    gen_parts = [edges.select("child", "parent")]
    if seed is not None:
        gen_parts.append(seed.gen_edges.select("child", "parent"))

    # pv → role map for R-pv role compatibility (tiny, loop-invariant).
    # NEVER materialize the same-role pv×pv cross product: at SNOMED
    # scale Σ_role |pvs(role)|² is billions of rows.  Role compatibility
    # is instead applied to the COVERED pairs each round — a set bounded
    # by actual filler-subsumption witnesses, i.e. by the rule's output.
    pv_role = ont.pvs.select("pv_id", "role_id").distinct().localCheckpoint(eager=False)

    def _chain_rule(clo: DataFrame, tagged: bool) -> DataFrame:
        """R-chain over ONE (optionally delta-tagged) closure.

        ``clo`` carries (desc, anc) plus — when ``tagged`` — a boolean
        ``__d`` marking rows added by the previous round.  The fused
        semi-naive evaluation threads a delta flag through each of the
        three closure use sites and keeps only derivations that used a
        Δ row at ≥1 site (identity pseudo-rows are static → False).
        This replaces the earlier one-variant-per-site differentiation
        (3 full join trees per round) with a single tree: the variant
        with Δ at the LAST site already paid full-closure intermediates
        at the first two sites, so the fused tree costs about one
        variant, not three — and runs a third of the query stages,
        which at fixture scale ARE the wall clock."""
        dcol = (F.col("__d") if tagged else F.lit(False))
        below_pv1 = clo.select(
            F.col("desc").alias("X"), F.col("anc").alias("pv1id"), dcol.alias("da")
        ).unionByName(  # X may be pv1 itself (static identity rows)
            simple_pvs.select(
                F.col("pv_id").alias("X"), F.col("pv_id").alias("pv1id"),
                F.lit(False).alias("da"),
            )
        )
        step1 = below_pv1.join(
            simple_pvs.select(F.col("pv_id").alias("pv1id"), F.col("role_id").alias("r1"), F.col("filler_concept").alias("f1")),
            "pv1id",
        )
        # r1 ⊑* left_role (reflexive role_compat: ONE join, no union)
        r1_ok = (
            step1.join(F.broadcast(role_compat), F.col("r1") == F.col("r_child"))
            .join(chains, F.col("r_parent") == F.col("left_role"))
            .drop("r_child", "r_parent")
        )
        # F1 ⊑* pv2 (simple)
        step2 = r1_ok.join(
            clo.select(F.col("desc").alias("f1"), F.col("anc").alias("pv2id"), dcol.alias("db")),
            "f1",
        ).join(
            simple_pvs.select(F.col("pv_id").alias("pv2id"), F.col("role_id").alias("r2"), F.col("filler_concept").alias("g")),
            "pv2id",
        )
        # r2 ⊑* right_role (reflexive role_compat: ONE semi-join)
        r2_ok = step2.join(
            F.broadcast(role_compat),
            (F.col("r2") == F.col("r_child")) & (F.col("right_role") == F.col("r_parent")),
            "left_semi",
        )
        # target named pv: exact super_role with filler ⊒* g
        g_up = r2_ok.join(
            clo.select(F.col("desc").alias("g"), F.col("anc").alias("g2"), dcol.alias("dc")),
            "g",
        ).select("X", "super_role", F.col("g2").alias("g"), "da", "db", "dc")
        g_up = r2_ok.select(
            "X", "super_role", "g", "da", "db", F.lit(False).alias("dc")
        ).unionByName(g_up)
        if tagged:  # all-old derivations are already in the closure
            g_up = g_up.filter(F.col("da") | F.col("db") | F.col("dc"))
        return g_up.join(
            simple_pvs.select(F.col("pv_id").alias("tgt"), F.col("role_id").alias("super_role"), F.col("filler_concept").alias("g")),
            ["super_role", "g"],
        ).select(F.col("X").alias("child"), F.col("tgt").alias("parent"))

    def _site3_target(df: DataFrame, clo: DataFrame) -> DataFrame:
        """Shared tail of the delta-first chain variants: expand g by
        closure (∪ identity), then join the target named PV on
        (super_role, filler).  df: (X, super_role, g) → (child, parent)."""
        expanded = (
            df.join(clo.select(F.col("desc").alias("g"), F.col("anc").alias("g2")), "g")
            .select("X", "super_role", F.col("g2").alias("g"))
        )
        allg = df.select("X", "super_role", "g").unionByName(expanded)
        return allg.join(
            simple_pvs.select(
                F.col("pv_id").alias("tgt"), F.col("role_id").alias("super_role"),
                F.col("filler_concept").alias("g"),
            ),
            ["super_role", "g"],
        ).select(F.col("X").alias("child"), F.col("tgt").alias("parent"))

    def _chain_rule_delta(clo: DataFrame, delta: DataFrame) -> DataFrame:
        """R-chain tail-round evaluation: three delta-FIRST join trees.

        The fused delta-tagged tree (``_chain_rule(tagged=True)``) pays
        full-closure intermediates at its first two sites every round —
        measured ~200 s/round at the 360k stress even when the round
        derives <2k edges.  Here each closure use site gets its own
        variant with the Δ rows joined FIRST, so every intermediate is
        bounded by |Δ| × PV structure; the full closure only appears as
        a probe side (small broadcast keys → one scan, no wide output).
        Union(A,B,C) = derivations using Δ at ≥1 site — identical to the
        tagged filter da|db|dc (identity pseudo-rows are static, so they
        appear only at non-Δ sites).  Equivalence vs the fused/naive
        forms is gated in tests/test_closure.py (forced via the
        monkeypatched threshold) and by the stress harness's 2k
        naive-check."""
        rc_b = F.broadcast(role_compat)
        d = delta.select("desc", "anc")
        pv1s = simple_pvs.select(
            F.col("pv_id").alias("pv1id"), F.col("role_id").alias("r1"),
            F.col("filler_concept").alias("f1"),
        )
        pv2s = simple_pvs.select(
            F.col("pv_id").alias("pv2id"), F.col("role_id").alias("r2"),
            F.col("filler_concept").alias("g"),
        )

        # --- variant A: Δ at site 1 (X ⊑ pv1) ----------------------------
        a = (
            d.select(F.col("desc").alias("X"), F.col("anc").alias("pv1id"))
            .join(pv1s, "pv1id")
            .join(rc_b, F.col("r1") == F.col("r_child"))
            .join(chains, F.col("r_parent") == F.col("left_role"))
            .drop("r_child", "r_parent")
            .join(clo.select(F.col("desc").alias("f1"), F.col("anc").alias("pv2id")), "f1")
            .join(pv2s, "pv2id")
            .join(
                rc_b,
                (F.col("r2") == F.col("r_child")) & (F.col("right_role") == F.col("r_parent")),
                "left_semi",
            )
        )
        out = _site3_target(a.select("X", "super_role", "g"), clo)

        # --- variant B: Δ at site 2 (f1 ⊑ pv2) ---------------------------
        b = (
            d.select(F.col("desc").alias("f1"), F.col("anc").alias("pv2id"))
            .join(pv2s, "pv2id")
            .join(rc_b, F.col("r2") == F.col("r_child"))
            .join(chains, F.col("r_parent") == F.col("right_role"))
            .drop("r_child", "r_parent")
            .join(
                simple_pvs.select(
                    F.col("filler_concept").alias("f1"), F.col("pv_id").alias("pv1id"),
                    F.col("role_id").alias("r1"),
                ),
                "f1",
            )
            .join(
                rc_b,
                (F.col("r1") == F.col("r_child")) & (F.col("left_role") == F.col("r_parent")),
                "left_semi",
            )
        )
        bx = b.select(F.col("pv1id").alias("X"), "super_role", "g").unionByName(
            b.join(clo.select(F.col("desc").alias("Xd"), F.col("anc").alias("pv1id")), "pv1id")
            .select(F.col("Xd").alias("X"), "super_role", "g")
        )
        out = out.unionByName(_site3_target(bx, clo))

        # --- variant C: Δ at site 3 (g ⊑ g2) -----------------------------
        c = (
            d.select(F.col("desc").alias("g0"), F.col("anc").alias("g2"))
            .join(
                simple_pvs.select(
                    F.col("filler_concept").alias("g2"), F.col("pv_id").alias("tgt"),
                    F.col("role_id").alias("super_role"),
                ),
                "g2",
            )
            .join(chains, "super_role")
            .join(
                simple_pvs.select(
                    F.col("filler_concept").alias("g0"), F.col("pv_id").alias("pv2id"),
                    F.col("role_id").alias("r2"),
                ),
                "g0",
            )
            .join(
                rc_b,
                (F.col("r2") == F.col("r_child")) & (F.col("right_role") == F.col("r_parent")),
                "left_semi",
            )
            .join(clo.select(F.col("desc").alias("f1"), F.col("anc").alias("pv2id")), "pv2id")
            .join(
                simple_pvs.select(
                    F.col("filler_concept").alias("f1"), F.col("pv_id").alias("pv1id"),
                    F.col("role_id").alias("r1"),
                ),
                "f1",
            )
            .join(
                rc_b,
                (F.col("r1") == F.col("r_child")) & (F.col("left_role") == F.col("r_parent")),
                "left_semi",
            )
        )
        out_c = c.select(F.col("pv1id").alias("X"), "tgt").unionByName(
            c.join(clo.select(F.col("desc").alias("Xd"), F.col("anc").alias("pv1id")), "pv1id")
            .select(F.col("Xd").alias("X"), "tgt")
        )
        return out.unionByName(
            out_c.select(F.col("X").alias("child"), F.col("tgt").alias("parent"))
        )

    rule_delta = None  # None → full evaluation (round 1 / naive mode)
    # delta-first R-chain switch: pays off only when the closure dwarfs
    # the round's delta (tail rounds at production scale).  The fused
    # tagged tree stays the fixture/small-scale default — it runs ~1/3
    # the query stages, which at fixture scale ARE the wall clock.
    n_closure_est = (
        closure.count() if (have_chains and not naive) else 0
    )

    def _round_partition(clo: DataFrame) -> DataFrame:
        """ONE exchange per classify round (VERDICT r4 item 5): above the
        big-closure threshold, hash-partition the round's closure on
        ``desc`` — the probe key at every rule site (_covered_pairs'
        sub_match, R-equiv's left side, all three chain-rule hops) — and
        checkpoint.  localCheckpoint preserves output partitioning, so
        each desc-keyed join reuses this single shuffle instead of
        re-exchanging the multi-10M-row closure per site.  Below the
        threshold the lazy-union closure is kept (fixture scale: an
        extra shuffle job would cost more than it saves)."""
        if naive or n_closure_est < DELTA_FIRST_MIN_CLOSURE:
            return clo
        # MEASURED NET LOSS, default off (BENCH.md round-5 A/B: 360k
        # classify 876.7 s with vs 815.8 s without, same window): within
        # one round every rule site feeds a single action, so Spark's
        # ReuseExchange/AQE stage reuse already dedupes the identical
        # closure exchanges — the explicit repartition only adds a
        # 63M-row shuffle + checkpoint per round (and the >256-bit
        # stats-strip rewrap discards the partitioning it tried to pin).
        # Kept behind the env knob for re-evaluation on a real cluster,
        # where exchange reuse across AQE stage boundaries is weaker.
        if os.environ.get("SUBONT_ROUND_REPARTITION", "off") != "on":
            return clo
        return _chk(clo.repartition(F.col("desc")))

    closure = _round_partition(closure)
    # closure growth is tracked UNCONDITIONALLY via each round's n_new
    # (already counted for free by _chk_n), so a classification whose
    # initial TC is below DELTA_FIRST_MIN_CLOSURE but grows past it
    # mid-fixpoint still engages the delta-first tail path; when the
    # exact TC delta is sampled it replaces the provisional n_new bound.
    _last_n_new = 0
    import time as _time

    if progress:
        print(
            f"classify initial TC: {n_closure_est} rows ({_time.time() - _t_init:.1f}s)",
            flush=True,
        )
    _t_round = _time.time()
    for _round in range(max_fixpoint_rounds):
        semi = rule_delta is not None and not naive
        new_edges_parts = []

        # ---- R-pv: pv1 ⊑ pv2 ---------------------------------------------
        # semi-naive: a pair can become covered this round ONLY if some
        # conjunct of pv1 gained a Δ-witness below a conjunct of pv2 —
        # generate those candidate pairs from Δ, then run the full
        # coverage test restricted to them (coverage is monotone)
        if semi:
            lc_d = pv_conj.select(F.col("pv_id").alias("L"), F.col("cref").alias("lcref"))
            rc_d = pv_conj.select(F.col("pv_id").alias("R"), F.col("cref").alias("rcref"))
            cand = (
                lc_d.join(
                    rule_delta.select(F.col("desc").alias("cl_desc"), F.col("anc").alias("cl_anc")),
                    F.col("lcref") == F.col("cl_desc"),
                )
                .join(rc_d, F.col("cl_anc") == F.col("rcref"))
                .select("L", "R")
                .distinct()
            )
            # cand's Δ-join tree is referenced THREE times inside
            # _covered_pairs (two key semi-filters + the final pair
            # restrict); a lazy checkpoint computes it once and the
            # other references read the blocks — no extra job, and in
            # the heavy delta≈closure rounds the tree is a full
            # closure ⋈ conj ⋈ conj evaluation each time.
            cand = _chk(cand)
        else:
            cand = None
        covered = _covered_pairs(
            pv_conj.select(F.col("pv_id").alias("pv1"), "cref"),
            pv_conj.select(F.col("pv_id").alias("pv2"), "cref"),
            closure,
            "pv1",
            "pv2",
            pairs=cand,
        ).filter(F.col("L") != F.col("R"))
        # role compatibility on the covered pairs: r1 == r2, or r1 ⊑* r2
        # via the (tiny, broadcastable) role closure
        cov_r = covered.join(
            pv_role.select(F.col("pv_id").alias("L"), F.col("role_id").alias("role1")), "L"
        ).join(
            pv_role.select(F.col("pv_id").alias("R"), F.col("role_id").alias("role2")), "R"
        )
        pv_edges = (
            cov_r.join(
                F.broadcast(role_compat),
                (F.col("role1") == F.col("r_child"))
                & (F.col("role2") == F.col("r_parent")),
                "left_semi",
            )
            .select(F.col("L").alias("child"), F.col("R").alias("parent"))
        )
        new_edges_parts.append(pv_edges)

        # ---- R-equiv: X ⊑ A for A ≡ C1⊓…⊓Cn -------------------------------
        # semi-naive: only X that gained a Δ-ancestor can newly satisfy a
        # conjunction; identity matches are static and fire in round 1
        eq_left = closure.select(F.col("desc").alias("xid"), F.col("anc").alias("cref")).unionByName(
            equiv_conj.select(F.col("cref").alias("xid"), F.col("cref"))
        )
        if semi:
            xs = rule_delta.select(F.col("desc").alias("xid")).distinct()
            eq_left = eq_left.join(xs, "xid", "left_semi")
        eq_covered = _covered_pairs(
            eq_left,
            equiv_conj.select(F.col("axiom_id"), F.col("cref")),
            # closure already folded into the left side above → pass empty
            closure.limit(0),
            "xid",
            "axiom_id",
        )
        eq_edges = (
            eq_covered.join(
                ont.axioms.filter(F.col("is_equiv")).select("axiom_id", "sub_id"),
                eq_covered.R == F.col("axiom_id"),
            )
            .filter(F.col("L") != F.col("sub_id"))
            .select(F.col("L").alias("child"), F.col("sub_id").alias("parent"))
        )
        new_edges_parts.append(eq_edges)

        # ---- R-chain: existential propagation onto named PVs --------------
        if have_chains:
            if semi:
                n_delta = (
                    rule_delta.count()
                    if n_closure_est >= DELTA_FIRST_MIN_CLOSURE
                    else None
                )
                if n_delta is not None:
                    # upgrade last round's provisional n_new growth (a
                    # lower bound: new edges only) to the exact TC delta
                    n_closure_est += n_delta - _last_n_new
                if n_delta is not None and n_delta <= n_closure_est // DELTA_FIRST_RATIO:
                    # tail round at scale: every intermediate Δ-bounded
                    new_edges_parts.append(_chain_rule_delta(closure, rule_delta))
                elif n_delta is not None and n_delta * _NAIVE_ROUND_RATIO >= n_closure_est:
                    # Δ ≈ closure (the first post-seed round at scale):
                    # the tagged union skips almost nothing AND destroys
                    # the pre-partitioned closure's exchange reuse — full
                    # re-evaluation over the single-exchange closure is
                    # cheaper; _anti_pairs drops the re-derived old pairs
                    new_edges_parts.append(_chain_rule(closure, tagged=False))
                else:
                    # closure == prev_closure ⊎ rule_delta (every delta
                    # part is anti-joined before accumulation, so the
                    # split is exact and disjoint) — the delta-tagged
                    # closure is a free union, never a closure ⋈ Δ
                    # membership join
                    tagged = prev_closure.withColumn("__d", F.lit(False)).unionByName(
                        rule_delta.select("desc", "anc").withColumn("__d", F.lit(True))
                    )
                    new_edges_parts.append(_chain_rule(tagged, tagged=True))
            else:
                new_edges_parts.append(_chain_rule(closure, tagged=False))

        new_edges = new_edges_parts[0]
        for p in new_edges_parts[1:]:
            new_edges = new_edges.unionByName(p)
        new_edges = (
            new_edges.filter(F.col("child") != F.col("parent"))
            .select(F.col("child").alias("desc"), F.col("parent").alias("anc"))
            .distinct()
        )
        if n_closure_est >= DELTA_FIRST_MIN_CLOSURE:
            # big regime: materialize the rule-output union ONCE before
            # the dedup.  _anti_pairs references its input twice (key
            # set + anti probe); un-checkpointed, that re-evaluated the
            # whole union of rule join trees a second time per round —
            # measured as the round-5 classify regression (BENCH.md:
            # 815.8 s → the fix target is the r4-record ~495 s shape).
            # n_cand bounds the key set, so the gate's own count job is
            # never needed.
            new_edges, n_cand = _chk_n(new_edges)
            new_edges = _anti_pairs(new_edges, closure, n_cand=n_cand)
        else:
            new_edges = _anti_pairs(new_edges, closure)
        new_edges = new_edges.select(F.col("desc").alias("child"), F.col("anc").alias("parent"))
        new_edges, n_new = _chk_n(new_edges)
        n_closure_est += n_new  # provisional growth (closure only grows)
        _last_n_new = n_new
        if progress:
            print(
                f"classify round {_round + 1}: {n_new} new edges "
                f"({_time.time() - _t_round:.1f}s)", flush=True,
            )
            _t_round = _time.time()
        if n_new == 0:
            break
        gen_parts.append(new_edges.select("child", "parent"))
        prev_closure = closure
        closure, rule_delta = transitive_closure(
            new_edges.select("child", "parent"),
            seed_closure=closure,
            return_delta=True,
            big=n_closure_est >= DELTA_FIRST_MIN_CLOSURE,
        )
        closure = _round_partition(closure)
    else:
        raise RuntimeError("classify: rule fixpoint did not converge")

    # equivalence-cycle detection (A4): reference assumes none for SCT
    # (OntologyReasoningService.java:142).  Fail fast if violated.
    if not allow_equivalences:
        _t_cyc = _time.time()
        cyc = closure.join(
            closure.select(F.col("desc").alias("y_desc"), F.col("anc").alias("y_anc")),
            (F.col("desc") == F.col("y_anc")) & (F.col("anc") == F.col("y_desc")),
            "left_semi",
        )
        if not cyc.isEmpty():
            raise ValueError("equivalent-class cycle detected; unsupported (reference assumes none)")
        if progress:
            print(f"classify cycle check: {_time.time() - _t_cyc:.1f}s", flush=True)

    _local_attrs = {
        k: getattr(closure, k)
        for k in ("_subont_local_anc", "_subont_local_anc_arrays", "_subont_local_anc_fn")
        if getattr(closure, k, None) is not None
    }
    # _chk, not a raw localCheckpoint: in SUBONT_CHECKPOINT_DIR mode the
    # classification's OUTPUT surfaces must be durable too — a reliable
    # fixpoint whose final checkpoint is executor-memory-local would
    # still die with the executor
    closure = _chk(closure)
    # the checkpoint rewraps the same rows; keep the local ancestor
    # map (eager dict or the vectorized path's lazy arrays) rideable so
    # downstream consumers (reduce kernels, D4 map, incremental
    # re-classify) stay on their local fast paths
    for k, v in _local_attrs.items():
        setattr(closure, k, v)
    gen_edges = gen_parts[0]
    for p in gen_parts[1:]:
        gen_edges = gen_edges.unionByName(p)
    gen_edges = _chk(gen_edges.distinct())
    # witness-edge form: linear in |gen_edges|, never closure ⋈ closure
    # (the hub-skew square — at SNOMED scale every concept is below the
    # root, so the mid-join would pair |desc(root)|·|anc(root)| rows)
    direct = _chk(derive_direct_edges(closure, edges=gen_edges))
    non_primitive = (
        ont.axioms.filter(F.col("is_equiv")).select(F.col("sub_id").alias("id"))
        .unionByName(pv_names.select(F.col("pv_id").alias("id")))
        .distinct()
    )
    return Classified(
        closure=closure,
        direct=direct,
        non_primitive=_chk(non_primitive),
        prop_closure=_chk(prop_closure),
        pv_names=_chk(pv_names),
        gci_names=_chk(gci_names),
        gen_edges=gen_edges,
    )
