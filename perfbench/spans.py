"""Span tracer for the traced benchmark run.

``Tracer.install()`` wraps the public functions of each ``subont`` layer
(``LAYERS``) from outside the program: every module attribute bound to
one of those function objects -- the definition and every
``from .x import f [as _f]`` site -- is replaced by a wrapper that opens
a span.  A span records wall time and the Spark jobs submitted while it
was open; self time and self jobs subtract the child spans.  Untraced
runs never call ``install()``, so they run the program unwrapped.
"""

from __future__ import annotations

import os
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# layer name -> (module, public functions) -- the layers are subont modules
LAYERS: dict[str, tuple[str, tuple[str, ...]]] = {
    "extract": ("subont.extract", ("extract_statements",)),
    "canon": ("subont.canon", ("canonical_map", "canonicalize_statements", "connected_components")),
    "closure.tc": ("subont.closure", ("transitive_closure",)),
    "closure.direct": ("subont.closure", ("derive_direct_edges",)),
    "closure.classify": ("subont.closure", ("classify",)),
    "reduce": ("subont.reduce", ("eliminate_weaker", "eliminate_stronger")),
    "kg": ("subont.kg", ("build_kg",)),
    "definitions": (
        "subont.definitions",
        (
            "abstract_definitions",
            "nnf_definitions",
            "closest_primitive_ancestors",
            "property_definitions",
            "gci_authoring_definitions",
        ),
    ),
    "pipeline": ("subont.pipeline", ("compute_subontology",)),
    "owl_io": ("subont.owl_io", ("render_axioms",)),
    "rf2": ("subont.rf2", ("triples_from_nnf", "relationship_rf2_files", "write_rf2_named")),
    "util.ship": ("subont.util", ("ship_local_table",)),
    "util.chk": ("subont.util", ("chk", "chk_n")),
}


@dataclass
class Span:
    layer: str
    name: str
    t0: float
    j0: int
    args: tuple = ()
    kwargs: dict = field(default_factory=dict)
    out: object = None
    t1: float = 0.0
    j1: int = 0
    children: list["Span"] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.t1 - self.t0

    @property
    def jobs(self) -> int:
        return self.j1 - self.j0

    @property
    def self_wall(self) -> float:
        return self.wall - sum(c.wall for c in self.children)

    @property
    def self_jobs(self) -> int:
        return self.jobs - sum(c.jobs for c in self.children)

    def arg(self, i: int, name: str):
        """The call's argument ``name``, passed at position ``i`` or by keyword."""
        return self.args[i] if len(self.args) > i else self.kwargs.get(name)

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()


class Tracer:
    """Collects a span tree.  ``job_counter`` returns the number of Spark
    jobs submitted so far (monotonic); ``bookkeeping_s`` accumulates the
    time the tracer itself spends opening and closing spans."""

    def __init__(self, job_counter):
        self.job_counter = job_counter
        self.roots: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self.bookkeeping_s = 0.0

    # -- spans ---------------------------------------------------------
    def open(self, layer: str, name: str, args: tuple = (), kwargs: dict | None = None) -> Span:
        b0 = time.perf_counter()
        sp = Span(layer, name, 0.0, self.job_counter(), args, kwargs or {})
        (self._stack[-1].children if self._stack else self.roots).append(sp)
        self._stack.append(sp)
        sp.t0 = time.perf_counter()
        self.bookkeeping_s += sp.t0 - b0
        return sp

    def close(self, sp: Span, out=None) -> None:
        sp.t1 = time.perf_counter()
        sp.j1 = self.job_counter()
        sp.out = out
        if self._stack.pop() is not sp:
            raise RuntimeError(f"span {sp.layer}:{sp.name} closed out of order")
        self.bookkeeping_s += time.perf_counter() - sp.t1

    @contextmanager
    def span(self, layer: str, name: str):
        """A span around benchmark code that is not a wrapped function."""
        sp = self.open(layer, name)
        try:
            yield sp
        finally:
            self.close(sp)

    def spans(self):
        for r in self.roots:
            yield from r.walk()

    def tree_lines(self, depth: int = 2) -> list[str]:
        """The span tree down to ``depth``, one span per line."""
        lines = []

        def visit(sp: Span, level: int) -> None:
            lines.append(
                f"{'  ' * level}{sp.layer}:{sp.name} wall {sp.wall:.3f}s self {sp.self_wall:.3f}s "
                f"jobs {sp.jobs} self {sp.self_jobs}"
            )
            if level + 1 < depth:
                for c in sp.children:
                    visit(c, level + 1)

        for r in self.roots:
            visit(r, 0)
        return lines

    # -- wrapping ------------------------------------------------------
    def _wrap(self, layer: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            sp = tracer.open(layer, fn.__name__, args, kwargs)
            out = None
            try:
                out = fn(*args, **kwargs)
                return out
            finally:
                tracer.close(sp, out)

        traced.__wrapped__ = fn
        traced.__name__ = fn.__name__
        return traced

    def install(self) -> None:
        """Patch every binding of every layer function in loaded subont
        modules.  Call after the workload imported what it uses."""
        import importlib

        for mod_name, _ in LAYERS.values():
            importlib.import_module(mod_name)
        modules = [m for n, m in list(sys.modules.items()) if n == "subont" or n.startswith("subont.")]
        for layer, (mod_name, fns) in LAYERS.items():
            for fname in fns:
                orig = getattr(sys.modules[mod_name], fname)
                wrapper = self._wrap(layer, orig)
                for m in modules:
                    for attr, val in list(vars(m).items()):
                        if val is orig:
                            setattr(m, attr, wrapper)
                            self._patched.append((m, attr, orig))

    def uninstall(self) -> None:
        for m, attr, orig in reversed(self._patched):
            setattr(m, attr, orig)
        self._patched.clear()


def layer_totals(spans) -> dict[str, dict[str, float]]:
    """Per layer: summed self time, self jobs and call count."""
    out: dict[str, dict[str, float]] = {}
    for sp in spans:
        t = out.setdefault(sp.layer, {"self_s": 0.0, "jobs": 0, "calls": 0})
        t["self_s"] += sp.self_wall
        t["jobs"] += sp.self_jobs
        t["calls"] += 1
    return out


# per-layer metrics of a traced pass, in report order, with their units
PER_LAYER: dict[str, str] = {
    "extract.self_s": "s", "extract.jobs": "count", "extract.rows_out": "count",
    "canon.self_s": "s", "canon.jobs": "count", "canon.calls": "count",
    "closure.tc.self_s": "s", "closure.tc.jobs": "count", "closure.tc.calls": "count",
    "closure.tc.rows_out": "count",
    "closure.direct.self_s": "s", "closure.direct.jobs": "count",
    "closure.classify.self_s": "s", "closure.classify.jobs": "count",
    "closure.classify.gate_rows": "count", "closure.classify.local": "1",
    "reduce.self_s": "s", "reduce.jobs": "count", "reduce.calls": "count",
    "kg.self_s": "s", "kg.jobs": "count", "kg.gate_rows": "count", "kg.local": "1",
    "kg.local_side_s": "s", "kg.dist_side_s": "s",
    "definitions.self_s": "s", "definitions.jobs": "count", "definitions.calls": "count",
    "pipeline.self_s": "s", "pipeline.jobs": "count",
    "owl_io.self_s": "s",
    "rf2.self_s": "s", "rf2.jobs": "count", "rf2.bytes_written": "B",
    "util.ship.self_s": "s", "util.ship.rows": "count",
    "util.chk.calls": "count", "util.chk.self_s": "s", "util.chk.jobs": "count",
    "materialize.self_s": "s",
    "spark.jobs": "count", "spark.ms_per_job": "ms",
    "trace.coverage": "1", "trace.overhead_frac": "1",
    "peak_rss_mb": "MB",
}


def _count(df) -> int:
    return df.count() if df is not None else 0


def per_layer(tracer: Tracer, pass_wall: float) -> dict[str, float]:
    """Per-layer metrics of the traced pass ``tracer`` recorded.

    Row and gate counts of lazily-defined outputs are counted here, after
    the pass and outside every span, so they add no job to the trace.
    ``kg.local`` and ``closure.classify.local`` are the shares of calls
    that took the in-process side of their size gate; ``gate_rows`` is
    the largest input a gate saw (statements for ``build_kg``, axiom rows
    for ``classify``).  ``trace.coverage`` is the top-level spans' share
    of the pass wall; ``trace.overhead_frac`` is the tracer's own
    bookkeeping time over the rest of the pass."""
    from subont import closure

    spans = list(tracer.spans())
    totals = layer_totals(spans)
    by_layer: dict[str, list[Span]] = {}
    for sp in spans:
        by_layer.setdefault(sp.layer, []).append(sp)

    def tot(layer, key):
        return totals.get(layer, {}).get(key, 0)

    m: dict[str, float] = {}
    for name in PER_LAYER:
        layer, _, key = name.rpartition(".")
        if key in ("self_s", "jobs", "calls"):
            m[name] = tot(layer, key)
    extract_rows = {id(sp): _count(sp.out) for sp in by_layer.get("extract", [])}
    m["extract.rows_out"] = sum(extract_rows.values())
    m["closure.tc.rows_out"] = sum(_count(sp.out) for sp in by_layer.get("closure.tc", []))

    # classify gate: axioms and PVs against the caps in force
    onts = [sp.arg(0, "ont") for sp in by_layer.get("closure.classify", [])]
    ax_pv = [(ont.axioms.count(), ont.pvs.count()) for ont in onts]
    m["closure.classify.gate_rows"] = max((a for a, _ in ax_pv), default=0)
    caps = (closure._LOCAL_CLASSIFY_MAX_AXIOMS, closure._LOCAL_CLASSIFY_MAX_PVS)
    m["closure.classify.local"] = (
        sum(a <= caps[0] and p <= caps[1] for a, p in ax_pv) / len(ax_pv) if ax_pv else 0.0
    )

    # KG gate: the statement count build_kg compared with its cap, read
    # from its extract child; the local side returns the lazy result
    kg_spans = [sp for sp in by_layer.get("kg", []) if sp.name == "build_kg"]
    stmts = [sum(extract_rows.get(id(c), 0) for c in sp.children) for sp in kg_spans]
    m["kg.gate_rows"] = max(stmts, default=0)
    m["kg.local"] = (
        sum(type(sp.out).__name__ == "_LazyKGResult" for sp in kg_spans) / len(kg_spans)
        if kg_spans else 0.0
    )

    # the kg workload's two corpora, one per side of the gate
    for side in ("local", "dist"):
        m[f"kg.{side}_side_s"] = sum(sp.wall for sp in by_layer.get("side", []) if sp.name == side)

    m["rf2.bytes_written"] = sum(
        os.path.getsize(sp.out) for sp in by_layer.get("rf2", [])
        if sp.name == "write_rf2_named" and sp.out
    )
    m["util.ship.rows"] = sum(sp.arg(1, "arrow_table").num_rows for sp in by_layer.get("util.ship", []))

    jobs = sum(r.jobs for r in tracer.roots)
    m["spark.jobs"] = jobs
    m["spark.ms_per_job"] = pass_wall * 1000.0 / jobs if jobs else 0.0
    m["trace.coverage"] = sum(r.wall for r in tracer.roots) / pass_wall
    m["trace.overhead_frac"] = tracer.bookkeeping_s / (pass_wall - tracer.bookkeeping_s)
    return {name: m[name] for name in PER_LAYER if name in m}
