"""Robustness seams: the stats-strip private-API fallback and the
_anti_pairs explicit-broadcast size gate.

The stats strip (subont/util.py) rewraps checkpointed RDDs through two
PRIVATE Spark APIs; it sits under every fixpoint loop in the engine, so
a Spark minor-version change must degrade it to the unstripped
checkpoint (slower planning), never crash.  The _anti_pairs broadcast
bypasses autoBroadcastJoinThreshold by design; above the key cap it
must fall back to the plain shuffled anti-join with identical results.
"""

import warnings

import pytest
from pyspark.sql import functions as F


def _reset_fuse(monkeypatch):
    import subont.util as u

    monkeypatch.setattr(u, "_strip_stats_broken", False)


def test_strip_stats_fallback_on_private_api_drift(spark, monkeypatch):
    import subont.util as u

    _reset_fuse(monkeypatch)
    # force every checkpoint over the (monkeypatched) bitlen cap so the
    # strip is always attempted, then break the private-API rewrap the
    # way a Spark upgrade would
    monkeypatch.setattr(u, "_STATS_BITLEN_CAP", -1)

    def boom(df):
        raise AttributeError("internalCreateDataFrame moved in Spark N+1")

    monkeypatch.setattr(u, "_strip_stats", boom)
    df = spark.createDataFrame([(i, i + 1) for i in range(10)], "a long, b long")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = u.chk(df)
        assert out.count() == 10  # correct result, unstripped checkpoint
        runtime = [x for x in w if issubclass(x.category, RuntimeWarning)]
        assert len(runtime) == 1, "exactly one degradation warning"
    # the fuse latched: no second attempt, no second warning
    with warnings.catch_warnings(record=True) as w2:
        warnings.simplefilter("always")
        out2 = u.chk(df)
        assert out2.count() == 10
        assert not [x for x in w2 if issubclass(x.category, RuntimeWarning)]


def test_strip_stats_fallback_under_fixpoint(spark, monkeypatch):
    """A whole transitive closure still converges with the strip broken
    — the seam under every fixpoint loop degrades, not crashes."""
    import subont.util as u
    from subont.closure import transitive_closure

    _reset_fuse(monkeypatch)
    monkeypatch.setattr(u, "_STATS_BITLEN_CAP", -1)
    monkeypatch.setattr(u, "_strip_stats", lambda df: (_ for _ in ()).throw(RuntimeError("gone")))
    edges = spark.createDataFrame([(i, i + 1) for i in range(8)], "child long, parent long")
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        clo = transitive_closure(edges)
        assert clo.count() == 8 * 9 // 2


@pytest.mark.parametrize("gate", [False, True])
def test_anti_pairs_broadcast_size_gate(spark, monkeypatch, gate):
    """Above _ANTI_BROADCAST_MAX_KEYS the plain left_anti is used; the
    result is identical either way, and with the cap forced to 0 the
    physical plan contains NO broadcast exchange of the key set."""
    import subont.closure as c

    cand = spark.createDataFrame(
        [(i % 17, i % 23) for i in range(200)], "desc long, anc long"
    ).distinct()
    closure = spark.createDataFrame(
        [(i % 13, i % 7) for i in range(300)], "desc long, anc long"
    ).distinct()
    expect = sorted(map(tuple, cand.join(closure, ["desc", "anc"], "left_anti").collect()))

    got_default = sorted(map(tuple, c._anti_pairs(cand, closure, gate=gate).collect()))
    assert got_default == expect

    monkeypatch.setattr(c, "_ANTI_BROADCAST_MAX_KEYS", 0)
    # n_cand path (caller-known bound) and gate path (counted) both trip
    capped = c._anti_pairs(cand, closure, n_cand=1, gate=gate) if not gate else c._anti_pairs(
        cand, closure, gate=True
    )
    assert sorted(map(tuple, capped.collect())) == expect
    # AQE may still broadcast the (tiny) join side at runtime — that is
    # its call to make; what the cap must remove is OUR explicit
    # broadcast of the __k key set (the semi-restrict structure).
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "__k" not in plan, "cap must suppress the explicit key-set broadcast"


def test_strip_stats_private_api_pinned(spark):
    """Pin the private Catalyst API ``_strip_stats``/``plan_leaf`` rely on
    (``queryExecution().toRdd()`` + ``internalCreateDataFrame``): called
    directly, the rewrap must succeed on this Spark build, keep the rows,
    and leave a single stats-free leaf.  The runtime fallback in ``chk``
    hides a failure here; this test makes it loud."""
    import subont.util as u

    df = spark.createDataFrame([(i, i * 2) for i in range(20)], "a long, b long")
    base = df.groupBy((F.col("a") % 3).alias("k")).agg(F.sum("b").alias("s")).localCheckpoint()
    out = u._strip_stats(base)  # raises if the private API moved
    assert out.schema == base.schema
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, base.collect()))
    plan = out._jdf.queryExecution().optimizedPlan()
    assert plan.children().isEmpty(), plan.toString()  # one leaf, no producing tree
