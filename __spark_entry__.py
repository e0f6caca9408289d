"""Driver contract for the spark-graft builder (PySpark target).

``entry``    — flagship corpus→KG query on sf0.001 (mention detection →
               entity linking → hierarchy closure → triple materialize).
``queries``  — one entry per implemented operator family (SURVEY.md §2 +
               the training-data operators), each with a DuckDB oracle in
               ``oracle_sql`` unless genuinely non-SQL-expressible.

Engine-portability discipline (so value hashes match):
 * money/value aggregates go through DECIMAL(18,x) per-row casts (exact
   in both engines), final cast to double;
 * ratios are single IEEE double divisions;
 * hashes are md5 hex (identical in both engines);
 * dot products are explicit left-associative term sums over
   element_at (1-based in both engines);
 * every computed column is aliased identically on both sides.

Relational queries share ONE SQL string run verbatim by both engines.
"""

from __future__ import annotations

import math
import os
import sys
from collections.abc import Callable

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)
# executor python workers inherit PYTHONPATH, not the driver's runtime
# sys.path — needed so mapInPandas UDFs can import subont from any cwd
if _REPO not in os.environ.get("PYTHONPATH", ""):
    os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

GAZ = ["spark", "join", "merge", "window", "hash", "scan", "filter", "sort"]

# fixed literal query vector / centroids for ANN (data-independent,
# identical literals in both engines)
QVEC = [round(math.sin(i + 1), 6) for i in range(64)]
CENTROIDS = {c: [round(math.cos((i + 1) * (c + 2)), 6) for i in range(64)] for c in range(4)}


# View registration is memoized per (session, sf_dir): spark.read.parquet
# schema inference launches one footer-reading job per table (10 jobs,
# ~0.8 s) on EVERY call, even warm — registering the temp views once per
# session is plan-setup hygiene, not result caching (no data or results
# are retained; every query still computes from the parquet inputs).
_VIEWS_REGISTERED: dict[str, str] = {}  # applicationId -> sf_dir now registered


def _views(spark: SparkSession, sf_dir: str) -> None:
    app = spark.sparkContext.applicationId
    if _VIEWS_REGISTERED.get(app) == sf_dir:
        return
    for t in TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
    _VIEWS_REGISTERED[app] = sf_dir


def _sql(q: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _views(spark, sf_dir)
        return spark.sql(q)

    return run


# reader memo: spark.read.parquet runs a schema-inference job per call;
# the returned DataFrame is an immutable lazy plan, safe to reuse per
# (session, path) — no data or results are cached
_READ_MEMO: dict[tuple[str, str], DataFrame] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, path)
    df = _READ_MEMO.get(key)
    if df is None:
        df = spark.read.parquet(path)
        _READ_MEMO[key] = df
    return df


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read_parquet(spark, f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read_parquet(spark, f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# Shared SQL (runs verbatim in Spark AND DuckDB)
# ---------------------------------------------------------------------------

Q1 = """
SELECT l_returnflag, l_linestatus,
       cast(sum(cast(l_quantity as decimal(18,2))) as double)      AS sum_qty,
       cast(sum(cast(l_extendedprice as decimal(18,2))) as double) AS sum_base,
       cast(sum(cast(l_extendedprice as decimal(18,2))
                * (1 - cast(l_discount as decimal(18,2)))) as double) AS sum_disc,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

Q3 = """
SELECT o.o_orderkey AS orderkey,
       cast(sum(cast(l.l_extendedprice as decimal(18,2))
                * (1 - cast(l.l_discount as decimal(18,2)))) as double) AS revenue
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY o.o_orderkey
ORDER BY revenue DESC, orderkey
LIMIT 10
"""

Q_SEMI = """
SELECT o_orderkey, o_custkey
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
"""

Q_ANTI = """
SELECT c_custkey
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""

Q_OUTER = """
SELECT n.n_name AS nation_name,
       count(c.c_custkey) AS n_cust,
       cast(sum(cast(coalesce(c.c_acctbal, 0) as decimal(18,2))) as double) AS total_bal
FROM nation n
LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""

Q_SETOPS = """
SELECT c_custkey FROM customer WHERE c_acctbal > 5000
EXCEPT
SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 200000
"""

Q_DISTINCT = """
SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
"""

Q_WINDOW = """
SELECT o_custkey, o_orderkey, pos
FROM (
    SELECT o_custkey, o_orderkey,
           cast(row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_totalprice DESC, o_orderkey) as bigint) AS pos
    FROM orders
) t
WHERE pos <= 3
"""

Q_EVENTS = """
SELECT event_type,
       date_trunc('hour', ts) AS hour_ts,
       count(*) AS n_events,
       cast(sum(cast(value as decimal(18,4))) as double) AS sum_value
FROM events
GROUP BY event_type, date_trunc('hour', ts)
"""

# gap-based sessionization: 30-minute inactivity closes a session —
# the streaming-style stateful rollup expressed with window functions
Q_SESSIONIZE = """
SELECT user_id, session_id, count(*) AS n_events, min(ts) AS session_start
FROM (
  SELECT user_id, ts,
         cast(sum(CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts, event_id) as bigint) AS session_id
  FROM (
    SELECT user_id, event_id, ts,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
    FROM events
  ) a
) b
GROUP BY user_id, session_id
"""

Q_MEDIAN = """
SELECT event_type,
       cast(count(*) as bigint) AS n,
       median(value) AS med
FROM events GROUP BY event_type
"""

# multi-level rollup (GROUPING SETS family) — shared SQL in both engines
Q_ROLLUP = """
SELECT coalesce(event_type, '(all)') AS event_type,
       coalesce(day_ts, timestamp '1900-01-01 00:00:00') AS day_ts,
       n_events, sum_value
FROM (
  SELECT event_type, day_ts, count(*) AS n_events,
         cast(sum(v) as double) AS sum_value
  FROM (
    SELECT event_type, date_trunc('day', ts) AS day_ts,
           cast(value as decimal(18,4)) AS v
    FROM events
  ) t
  GROUP BY ROLLUP (event_type, day_ts)
) r
"""

# backward as-of join oracle: per purchase, the most recent prior click
# of the same user (ties on ts → greatest click event_id) — DuckDB
# correlated form; the Spark side is subont.relops.asof_join's
# union+carry-forward window formulation
ORACLE_ASOF = """
SELECT event_id, user_id, ts,
       coalesce((SELECT c.event_id FROM events c
        WHERE c.event_type = 'click' AND c.user_id = p.user_id AND c.ts <= p.ts
        ORDER BY c.ts DESC, c.event_id DESC LIMIT 1), -1) AS click_event_id,
       coalesce((SELECT c.ts FROM events c
        WHERE c.event_type = 'click' AND c.user_id = p.user_id AND c.ts <= p.ts
        ORDER BY c.ts DESC, c.event_id DESC LIMIT 1),
        timestamp '1900-01-01 00:00:00') AS click_ts
FROM events p WHERE p.event_type = 'purchase'
"""

ORACLE_RANGE_PAIRS = """
SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
       a.ts AS ts_a, b.ts AS ts_b
FROM events a JOIN events b
  ON a.user_id = b.user_id AND b.ts > a.ts
 AND epoch(b.ts) - epoch(a.ts) <= 600
"""

# recursive-closure oracle over a forest derived from orders keys
_EDGES_SQL = "SELECT o_orderkey AS child, o_orderkey // 10 AS parent FROM orders WHERE o_orderkey >= 10"
_CLO_CTE = f"""
WITH RECURSIVE edges AS ({_EDGES_SQL}),
clo AS (
    SELECT child AS desc_id, parent AS anc_id FROM edges
    UNION
    SELECT c.desc_id, e.parent AS anc_id FROM clo c JOIN edges e ON c.anc_id = e.child
)
"""

_SHORTCUT_EDGES_SQL = (
    "SELECT o_orderkey AS child, o_orderkey // 10 AS parent FROM orders WHERE o_orderkey >= 10 "
    "UNION SELECT o_orderkey AS child, o_orderkey // 100 AS parent FROM orders "
    "WHERE o_orderkey >= 100 AND o_orderkey % 3 = 0"
)
_CLO2_CTE = f"""
WITH RECURSIVE edges AS ({_SHORTCUT_EDGES_SQL}),
clo AS (
    SELECT child AS desc_id, parent AS anc_id FROM edges
    UNION
    SELECT c.desc_id, e.parent AS anc_id FROM clo c JOIN edges e ON c.anc_id = e.child
)
"""

ORACLE_CLOSURE = _CLO_CTE + "SELECT desc_id, anc_id FROM clo WHERE desc_id <> anc_id"

ORACLE_DIRECT = _CLO2_CTE + """
SELECT desc_id AS child, anc_id AS parent FROM clo c1
WHERE desc_id <> anc_id AND NOT EXISTS (
    SELECT 1 FROM clo a JOIN clo b ON a.anc_id = b.desc_id
    WHERE a.desc_id = c1.desc_id AND b.anc_id = c1.anc_id
          AND a.anc_id <> a.desc_id AND b.anc_id <> b.desc_id
)
"""

ORACLE_DESCENDANTS = _CLO_CTE + """
SELECT DISTINCT desc_id FROM clo WHERE anc_id BETWEEN 1 AND 9 AND desc_id <> anc_id
"""

_CAND_SQL = "SELECT o_custkey % 10 AS set_id, o_orderkey AS cls FROM orders WHERE o_orderkey % 97 = 0"
ORACLE_ANTICHAIN = _CLO_CTE + f""",
cand AS ({_CAND_SQL})
SELECT set_id, cls FROM cand c
WHERE NOT EXISTS (
    SELECT 1 FROM clo JOIN cand o ON o.cls = clo.desc_id AND o.set_id = c.set_id
    WHERE clo.anc_id = c.cls AND clo.desc_id <> clo.anc_id
)
"""

_GAZ_IN = ", ".join(f"'{g}'" for g in GAZ)

ORACLE_MENTIONS = f"""
SELECT DISTINCT doc_id, mention FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS mention FROM documents
) t WHERE mention IN ({_GAZ_IN})
"""

ORACLE_TOKEN_STATS = """
SELECT doc_id,
       cast(len(string_split(text, ' ')) as bigint) AS n_tokens,
       cast(len(list_distinct(string_split(text, ' '))) as bigint) AS n_distinct
FROM documents
"""

ORACLE_QUALITY = """
SELECT doc_id,
       cast(len(list_distinct(string_split(text, ' '))) as double)
           / cast(len(string_split(text, ' ')) as double) AS diversity,
       cast(len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) as double)
           / cast(len(string_split(text, ' ')) as double) AS stopword_ratio
FROM documents
"""

ORACLE_LANG_ID = """
SELECT doc_id,
       CASE WHEN cast(len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) as double)
                 / cast(len(string_split(text, ' ')) as double) > 0.05
            THEN 'en' ELSE 'other' END AS predicted_lang
FROM documents
"""

ORACLE_FINGERPRINT = """
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
FROM documents
"""

ORACLE_DEDUP_EXACT = """
SELECT md5(text) AS h, min(doc_id) AS keeper, count(*) AS n_dups
FROM documents GROUP BY md5(text)
"""

ORACLE_JACCARD = """
WITH toks AS (
    SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents
),
sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
    FROM toks a JOIN toks b ON a.tok = b.tok AND a.lang = b.lang AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, inter, sa.sz + sb.sz - inter AS uni
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter * 5 >= (sa.sz + sb.sz - inter) * 4
"""

_MH_COLS = ",\n       ".join(
    f"min(md5(concat('s{i}|', tok))) AS mh{i}" for i in range(4)
)
ORACLE_MINHASH = f"""
WITH toks AS (
    SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents
)
SELECT doc_id,
       {_MH_COLS}
FROM toks GROUP BY doc_id
"""

ORACLE_LSH = f"""
WITH toks AS (
    SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents
),
sig AS (
    SELECT doc_id,
       {_MH_COLS}
    FROM toks GROUP BY doc_id
),
banded AS (
    SELECT doc_id, 0 AS band, md5(concat(mh0, '|', mh1)) AS bkey FROM sig
    UNION ALL
    SELECT doc_id, 1 AS band, md5(concat(mh2, '|', mh3)) AS bkey FROM sig
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
"""


def _hex4_sql(col_expr: str) -> str:
    terms = [
        f"(instr('0123456789abcdef', substring({col_expr}, {i}, 1)) - 1) * {16 ** (4 - i)}"
        for i in range(1, 5)
    ]
    return "(" + " + ".join(terms) + ")"


_BIT_SUMS = ",\n       ".join(
    f"sum(CASE WHEN (hv >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}" for j in range(16)
)
_BIT_RECOMBINE = " + ".join(f"(CASE WHEN b{j} > 0 THEN {2 ** j} ELSE 0 END)" for j in range(16))
ORACLE_SIMHASH = f"""
WITH toks AS (
    SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents
),
hv AS (SELECT doc_id, {_hex4_sql("substring(md5(tok), 1, 4)")} AS hv FROM toks),
bits AS (
    SELECT doc_id,
       {_BIT_SUMS}
    FROM hv GROUP BY doc_id
)
SELECT doc_id, cast({_BIT_RECOMBINE} as bigint) AS simhash FROM bits
"""


# ---------------------------------------------------------------------------
# KG-pipeline oracle: the synthetic corpus plants statements via md5
# arithmetic (subont.corpus.stmt_hash16), so DuckDB can recompute the
# exact statement set and replay every downstream stage relationally:
# lexical-root canonicalization, IS-A closure (recursive CTE), direct
# edges, most-specific-filler reduction.
# ---------------------------------------------------------------------------

KG_N = 2000       # files at oracle scale (driver runs sf0.01)
KG_NC = 100       # concepts = max(100, n // 20)


def _kg_oracle_sql(n: int, nc: int) -> str:
    def h16(salt: str) -> str:
        return _hex4_sql(f"substring(md5('f' || cast(id as varchar) || '|{salt}' || cast(s as varchar)), 1, 4)")

    return f"""
WITH RECURSIVE slots AS (SELECT id, s FROM range(0, {n}) t(id), (SELECT unnest([0, 1, 2]) AS s)),
hs AS (
    SELECT id, s,
           {h16('c')} % {nc} AS c,
           {h16('k')} % 3 AS kind,
           {h16('a')} % 3 AS al,
           ({h16('a')} + 1) % 3 AS al2,
           {h16('r')} % 4 AS role
    FROM slots
),
st AS (
    SELECT
        CASE WHEN kind = 0 AND c >= 8 THEN 'isa'
             WHEN kind = 1 THEN 'attr'
             WHEN kind = 2 THEN 'same' END AS stype,
        CASE WHEN kind = 0 AND c >= 8 THEN 'C' || cast(c as varchar) || '_a' || cast(al as varchar)
             WHEN kind = 1 THEN 'C' || cast(c as varchar)
             WHEN kind = 2 THEN 'C' || cast(c as varchar) || '_a' || cast(al as varchar) END AS arg1,
        CASE WHEN kind = 1 THEN 'R' || cast(role as varchar) END AS role_s,
        CASE WHEN kind = 0 AND c >= 8 THEN 'C' || cast(c // 8 as varchar)
             WHEN kind = 1 THEN 'C' || cast((c * 7 + 13) % {nc} as varchar)
             WHEN kind = 2 THEN 'C' || cast(c as varchar) || '_a' || cast(al2 as varchar) END AS arg2
    FROM hs WHERE NOT (kind = 0 AND c < 8)
),
ents AS (
    SELECT DISTINCT ent FROM (SELECT arg1 AS ent FROM st UNION SELECT arg2 FROM st)
),
rooted AS (
    SELECT ent,
           CASE WHEN regexp_matches(ent, '^C\\d+_a\\d+$')
                THEN regexp_extract(ent, '^(C\\d+)_a\\d+$', 1) ELSE ent END AS root,
           CASE WHEN ent NOT LIKE '%\\_a%' ESCAPE '\\' THEN '1' || ent ELSE '0' || ent END AS pref
    FROM ents
),
reps AS (SELECT root, substring(max(pref), 2) AS rep FROM rooted GROUP BY root),
cmap AS (SELECT r.ent AS ent, p.rep AS rep FROM rooted r JOIN reps p ON r.root = p.root),
canon AS (
    SELECT st.stype, c1.rep AS a1, st.role_s, c2.rep AS a2
    FROM st JOIN cmap c1 ON st.arg1 = c1.ent JOIN cmap c2 ON st.arg2 = c2.ent
),
edges AS (SELECT DISTINCT a1 AS child, a2 AS parent FROM canon WHERE stype = 'isa' AND a1 <> a2),
clo AS (
    SELECT child AS dsc, parent AS anc FROM edges
    UNION
    SELECT c.dsc, e.parent AS anc FROM clo c JOIN edges e ON c.anc = e.child
),
direct_full AS (
    SELECT dsc AS child, anc AS parent FROM clo t
    WHERE NOT EXISTS (
        SELECT 1 FROM clo a JOIN edges e ON a.anc = e.child
        WHERE a.dsc = t.dsc AND e.parent = t.anc AND a.anc <> a.dsc
    )
),
attrs AS (SELECT DISTINCT a1 AS subj, role_s, a2 AS obj FROM canon WHERE stype = 'attr'),
attrs_reduced AS (
    SELECT subj, role_s, obj FROM attrs t
    WHERE NOT EXISTS (
        SELECT 1 FROM attrs o JOIN clo ON clo.dsc = o.obj AND clo.anc = t.obj
        WHERE o.subj = t.subj AND o.role_s = t.role_s AND clo.dsc <> clo.anc
    )
)
SELECT DISTINCT subj_ent, pred_name, obj_ent FROM (
    SELECT child AS subj_ent, 'isa' AS pred_name, parent AS obj_ent FROM direct_full
    UNION ALL
    SELECT subj AS subj_ent, role_s AS pred_name, obj AS obj_ent FROM attrs_reduced
)
"""


def _dot_sql(col: str, vec: list[float]) -> str:
    # DuckDB list indexing (1-based); the Spark side uses element_at
    # (also 1-based) in subont.ann with the same literals and term order.
    terms = [f"(cast(list_extract({col}, {i + 1}) as double) * {v!r})" for i, v in enumerate(vec)]
    return "(" + " + ".join(terms) + ")"


def _norm_sql(col: str, dim: int) -> str:
    terms = [
        f"(cast(list_extract({col}, {i + 1}) as double) * cast(list_extract({col}, {i + 1}) as double))"
        for i in range(dim)
    ]
    return "sqrt(" + " + ".join(terms) + ")"


def _cos_sql(col: str, vec: list[float]) -> str:
    qn = math.sqrt(sum(v * v for v in vec))
    return f"({_dot_sql(col, vec)} / ({_norm_sql(col, len(vec))} * {qn!r}))"


ORACLE_ANN_TOPK = f"""
SELECT vec_id, rank FROM (
    SELECT vec_id,
           cast(row_number() OVER (ORDER BY {_cos_sql("embedding", QVEC)} DESC, vec_id) as bigint) AS rank
    FROM embeddings
) t WHERE rank <= 10
"""

_IVF_CASE = (
    "CASE "
    + " ".join(
        "WHEN "
        + " AND ".join(
            f"(c{cid} {'>=' if cid < other else '>'} c{other})"
            for other in sorted(CENTROIDS)
            if other != cid
        )
        + f" THEN {cid}"
        for cid in sorted(CENTROIDS)
    )
    + " END"
)
ORACLE_IVF = (
    "SELECT vec_id, cast(" + _IVF_CASE + " as bigint) AS cluster FROM (SELECT vec_id, "
    + ", ".join(f"{_cos_sql('embedding', vec)} AS c{cid}" for cid, vec in sorted(CENTROIDS.items()))
    + " FROM embeddings) t"
)


NEARDUP_COS = 0.40  # the synthetic embeddings are random (max pair cos
# ≈ 0.48): 0.40 yields a real, non-trivial within-cluster pair set


def _pair_cos_sql(x: str, y: str, dim: int = 64) -> str:
    dot = " + ".join(
        f"(cast(list_extract({x},{i + 1}) as double) * cast(list_extract({y},{i + 1}) as double))"
        for i in range(dim)
    )
    nx = " + ".join(
        f"(cast(list_extract({x},{i + 1}) as double) * cast(list_extract({x},{i + 1}) as double))"
        for i in range(dim)
    )
    ny = " + ".join(
        f"(cast(list_extract({y},{i + 1}) as double) * cast(list_extract({y},{i + 1}) as double))"
        for i in range(dim)
    )
    return f"(({dot}) / (sqrt({nx}) * sqrt({ny})))"


def _neardup_oracle() -> str:
    return f"""
WITH assig AS ({ORACLE_IVF})
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {_pair_cos_sql("a.embedding", "b.embedding")} AS cos
FROM embeddings a
JOIN assig ca ON a.vec_id = ca.vec_id
JOIN embeddings b ON a.vec_id < b.vec_id
JOIN assig cb ON b.vec_id = cb.vec_id AND ca.cluster = cb.cluster
WHERE {_pair_cos_sql("a.embedding", "b.embedding")} >= {NEARDUP_COS}
"""


def _ivf_search_oracle(k: int = 10, nprobe: int = 2) -> str:
    from subont.ann import probe_clusters

    probes = ", ".join(str(c) for c in probe_clusters(CENTROIDS, QVEC, nprobe))
    return f"""
SELECT vec_id, rank FROM (
    SELECT vec_id,
           cast(row_number() OVER (ORDER BY {_cos_sql("embedding", QVEC)} DESC, vec_id) as bigint) AS rank
    FROM ({ORACLE_IVF}) a JOIN embeddings USING (vec_id)
    WHERE cluster IN ({probes})
) t WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# Spark-side callables for the non-shared-SQL operators
# ---------------------------------------------------------------------------

def _forest_edges(spark: SparkSession, sf_dir: str, shortcuts: bool = False) -> DataFrame:
    orders = _read_parquet(spark, f"{sf_dir}/orders.parquet")
    e = orders.filter(F.col("o_orderkey") >= 10).select(
        F.col("o_orderkey").alias("child"), F.expr("o_orderkey div 10").alias("parent")
    )
    if shortcuts:
        # no .distinct(): the two branches cannot overlap (k div 10 >
        # k div 100 for every k ≥ 100) and each is unique per key, so
        # the dedup exchange was a no-op evaluated on every downstream
        # pass (TC gate count, TC collect, witness collect); closure /
        # direct-edge consumers are set-semantic over edges regardless
        e = e.unionByName(
            orders.filter((F.col("o_orderkey") >= 100) & (F.col("o_orderkey") % 3 == 0)).select(
                F.col("o_orderkey").alias("child"), F.expr("o_orderkey div 100").alias("parent")
            )
        )
    return e


def q_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    from subont.closure import transitive_closure

    clo = transitive_closure(_forest_edges(spark, sf_dir))
    return clo.select(F.col("desc").alias("desc_id"), F.col("anc").alias("anc_id"))


def q_direct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from subont.closure import derive_direct_edges, transitive_closure

    edges = _forest_edges(spark, sf_dir, shortcuts=True)
    clo = transitive_closure(edges)
    # witness-edge form: closure ⋈ edges, never closure ⋈ closure
    return derive_direct_edges(clo, edges=edges).select("child", "parent")


def q_descendants(spark: SparkSession, sf_dir: str) -> DataFrame:
    from subont.closure import transitive_closure

    clo = transitive_closure(_forest_edges(spark, sf_dir))
    return (
        clo.filter(F.col("anc").between(1, 9))
        .select(F.col("desc").alias("desc_id"))
        .distinct()
    )


def q_antichain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from subont.closure import transitive_closure
    from subont.reduce import eliminate_weaker

    orders = _read_parquet(spark, f"{sf_dir}/orders.parquet")
    cand = orders.filter(F.col("o_orderkey") % 97 == 0).select(
        (F.col("o_custkey") % 10).alias("set_id"), F.col("o_orderkey").alias("cls")
    )
    clo = transitive_closure(_forest_edges(spark, sf_dir))
    return eliminate_weaker(cand, clo)


def q_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from subont.textops import gazetteer_mentions

    return gazetteer_mentions(_docs(spark, sf_dir), GAZ)


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from subont.textops import token_stats

    ts = token_stats(_docs(spark, sf_dir))
    return ts.select("doc_id", F.col("n_tokens").cast("long"), F.col("n_distinct").cast("long"))


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from subont.textops import quality_score

    return quality_score(_docs(spark, sf_dir))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from subont.textops import lang_id

    return lang_id(_docs(spark, sf_dir))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from subont.textops import fingerprint

    return fingerprint(_docs(spark, sf_dir))


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from subont.textops import dedup_exact

    return dedup_exact(_docs(spark, sf_dir))


def q_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from subont.textops import dedup_jaccard_pairs

    return dedup_jaccard_pairs(_docs(spark, sf_dir))


def q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from subont.textops import minhash_signatures

    return minhash_signatures(_docs(spark, sf_dir))


def q_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from subont.textops import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, sf_dir))


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from subont.textops import simhash16

    return simhash16(_docs(spark, sf_dir))


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from subont.ann import cosine_topk

    return cosine_topk(_emb(spark, sf_dir), QVEC, 10).select(
        "vec_id", F.col("rank").cast("long").alias("rank")
    )


def q_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from subont.ann import ivf_assign

    return ivf_assign(_emb(spark, sf_dir), CENTROIDS).select(
        "vec_id", F.col("cluster").cast("long").alias("cluster")
    )


def q_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from subont.ann import ivf_search

    return ivf_search(_emb(spark, sf_dir), CENTROIDS, QVEC, k=10, nprobe=2).select(
        "vec_id", F.col("rank").cast("long").alias("rank")
    )


def q_neardup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from subont.ann import embedding_neardup_pairs

    return embedding_neardup_pairs(
        _emb(spark, sf_dir), CENTROIDS, dim=64, threshold=NEARDUP_COS
    )


def q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from subont.relops import asof_join

    ev = _read_parquet(spark, f"{sf_dir}/events.parquet")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    out = asof_join(
        purchases, clicks, key="user_id", ts="ts",
        right_cols=["event_id"], suffix="_click", tiebreak="event_id_click",
    )
    return out.select(
        "event_id", "user_id", "ts",
        F.coalesce("event_id_click", F.lit(-1)).alias("click_event_id"),
        F.coalesce("ts_click", F.expr("timestamp '1900-01-01 00:00:00'")).alias("click_ts"),
    )


def q_range_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from subont.relops import range_join_window

    ev = _read_parquet(spark, f"{sf_dir}/events.parquet")
    return range_join_window(ev, id_col="event_id", ts="ts", max_gap_seconds=600, key="user_id")


def q_kg_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Headline corpus→KG pipeline, surfaced as named string triples so
    the DuckDB oracle (ORACLE_KG) can hash-compare: the planted corpus is
    closed-form (md5-selection statements), and every pipeline stage —
    extraction, lexical-root canonicalization, IS-A closure, direct-edge
    derivation, most-specific-filler reduction — has an exact relational
    equivalent."""
    from subont.corpus import synth_corpus
    from subont.kg import build_kg, role_id

    n = 20000 if sf_dir.rstrip("/").endswith("0.1") else KG_N
    src = synth_corpus(spark, n_files=n, n_concepts=max(KG_NC, n // 20))
    kg = build_kg(spark, src)
    # local-kernel results expose the string-level rows on the result
    # object itself, so none of the five DataFrame surfaces is built here
    trip_names = getattr(kg, "trip_names", None)
    if trip_names is not None:
        # local-kernel result: the name joins below are 1:1 (concept_id
        # and role_id are injective on the name dimensions), so the
        # distinct named-triple set is assembled directly from the
        # kernel's string-level rows — same output, zero joins
        rows = sorted(
            {(s, "isa" if st == "isa" else r, o) for st, s, r, o in trip_names}
        )
        import pandas as pd

        # pandas → Arrow local relation (the list-of-tuples form pays a
        # per-row pickle pass, ~0.2 s at bench scale); same rows, order
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["subj_ent", "pred_name", "obj_ent"]),
            schema="subj_ent string, pred_name string, obj_ent string",
        )
    e1 = kg.concepts.select(F.col("concept_id").alias("subj"), F.col("ent").alias("subj_ent"))
    e2 = kg.concepts.select(F.col("concept_id").alias("obj"), F.col("ent").alias("obj_ent"))
    roles = (
        kg.statements.filter(F.col("stype") == "attr")
        .select("role")
        .distinct()
        .select(role_id(F.col("role")).alias("pred"), F.col("role").alias("role_name"))
    )
    # the concept dimension is checkpointed once inside build_kg and
    # broadcast on BOTH name joins — no shuffle of the triple table
    return (
        kg.triples.join(F.broadcast(e1), "subj")
        .join(F.broadcast(e2), "obj")
        .join(F.broadcast(roles), "pred", "left")
        .select(
            "subj_ent",
            F.coalesce("role_name", F.lit("isa")).alias("pred_name"),
            "obj_ent",
        )
        .distinct()
    )


def q_subontology_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-parity extraction on the dummy CI fixture.  The full
    P1-P15 pipeline runs in Spark; the oracle is the reference's OWN
    expected output — the 9 golden triples fixed by
    SubontologyExtractionTest.java:56-69 — as a literal VALUES table."""
    from subont import fixtures
    from subont.kg import build_kg  # noqa: F401  (import kept light)
    from subont.pipeline import compute_subontology
    from subont.rf2 import triples_from_nnf

    ont = fixtures.dummy_ontology(spark)
    res = compute_subontology(spark, ont, [fixtures.FOCUS], compute_rf2=True)
    t = triples_from_nnf(res.nnf_rows, res.prop_defs, res.sub)
    return t.select(
        F.col("subj").cast("long").alias("subj"),
        F.col("pred").cast("long").alias("pred"),
        F.col("obj").cast("long").alias("obj"),
        F.col("rel_group").cast("long").alias("rel_group"),
    )


def q_concrete_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 concrete-values split (RF2Printer.java:207-254): NNF definition
    + triple materialization over the concrete-domain fixture; data PVs
    yield (pred, value) rows with no destination.  NULL-free surface for
    the hash compare: obj → -1, value → '' sentinels."""
    from subont import fixtures
    from subont.closure import classify
    from subont.definitions import nnf_definitions
    from subont.rf2 import triples_from_nnf

    ont = fixtures.concrete_ontology(spark)
    cl = classify(ont)
    focus = spark.createDataFrame([(fixtures.CONCRETE_FOCUS,)], "sub_id long")
    nnf = nnf_definitions(ont, cl, focus)
    t = triples_from_nnf(nnf.rows, ont.subprops.limit(0), ont)
    return t.select(
        F.col("subj").cast("long").alias("subj"),
        F.col("pred").cast("long").alias("pred"),
        F.coalesce(F.col("obj"), F.lit(-1)).cast("long").alias("obj"),
        F.col("rel_group").cast("long").alias("rel_group"),
        F.coalesce(F.col("value"), F.lit("")).alias("value"),
    )


def q_module_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 ⊥-locality module on the dummy CI fixture for signature
    {focus, finding-site filler, finding-site role}: the module's axiom
    subjects + traversed property edges.  The expected module is a fixed
    constant of the fixture (semi-naive fixpoint, module.py)."""
    from subont import fixtures
    from subont.module import locality_module

    ont = fixtures.dummy_ontology(spark)
    sig = spark.createDataFrame(
        [(fixtures.FOCUS,), (113331007,), (363698007,)], "id long"
    )
    m = locality_module(ont, sig, "bot")
    ax = m.axioms.select(
        F.col("sub_id").cast("long").alias("a"),
        F.col("is_equiv").cast("long").alias("b"),
        F.lit("axiom").alias("kind"),
    )
    sp = m.subprops.select(
        F.col("child").cast("long").alias("a"),
        F.col("parent").cast("long").alias("b"),
        F.lit("subprop").alias("kind"),
    )
    return ax.unionByName(sp)


def _module_oracle() -> str:
    rows = [
        (113331007, 0, "axiom"),
        (362969004, 1, "axiom"),
        (404684003, 0, "axiom"),
        (410662002, 0, "axiom"),
        (762705008, 0, "axiom"),
        (900000000000441003, 0, "axiom"),
        (363698007, 762705008, "subprop"),
    ]
    vals = ", ".join(f"({a}, {b}, '{k}')" for a, b, k in rows)
    return (
        "SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, "
        f"CAST(kind AS VARCHAR) AS kind FROM (VALUES {vals}) AS t(a, b, kind)"
    )


def _fixture_oracle() -> str:
    from subont.fixtures import EXPECTED_TRIPLES

    rows = ", ".join(f"({s}, {p}, {o}, {g})" for s, p, o, g in sorted(EXPECTED_TRIPLES))
    return (
        "SELECT CAST(subj AS BIGINT) AS subj, CAST(pred AS BIGINT) AS pred, "
        "CAST(obj AS BIGINT) AS obj, CAST(rel_group AS BIGINT) AS rel_group "
        f"FROM (VALUES {rows}) AS t(subj, pred, obj, rel_group)"
    )


def _concrete_oracle() -> str:
    from subont.fixtures import EXPECTED_CONCRETE_TRIPLES

    rows = ", ".join(
        f"({s}, {p}, {-1 if o is None else o}, {g}, '{'' if v is None else v}')"
        for s, p, o, g, v in sorted(
            EXPECTED_CONCRETE_TRIPLES, key=lambda r: (r[0], r[1], r[2] or -1, r[3])
        )
    )
    return (
        "SELECT CAST(subj AS BIGINT) AS subj, CAST(pred AS BIGINT) AS pred, "
        "CAST(obj AS BIGINT) AS obj, CAST(rel_group AS BIGINT) AS rel_group, "
        f"CAST(value AS VARCHAR) AS value FROM (VALUES {rows}) "
        "AS t(subj, pred, obj, rel_group, value)"
    )


# ---------------------------------------------------------------------------
# Contract surface
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship on sf0.001: documents → gazetteer mention detection
    (Arrow pandas UDF) → entity link to a concept hierarchy → IS-A
    closure → (subj, pred, obj) triples."""
    sf_dir = "/root/testdata/sf0.001"
    from subont.closure import transitive_closure
    from subont.kg import MENTIONS_PRED
    from subont.model import IS_A
    from subont.textops import gazetteer_mentions

    docs = _docs(spark, sf_dir)
    mentions = gazetteer_mentions(docs, GAZ)
    hierarchy = {  # tiny concept scheme over the corpus vocabulary
        "join": "operator", "merge": "operator", "sort": "operator",
        "filter": "operator", "scan": "operator", "window": "operator",
        "hash": "function", "spark": "system",
        "operator": "thing", "function": "thing", "system": "thing",
    }
    cid = lambda c: F.xxhash64(F.concat(F.lit("concept|"), c))  # noqa: E731
    edges = spark.createDataFrame(list(hierarchy.items()), "c string, p string").select(
        cid(F.col("c")).alias("child"), cid(F.col("p")).alias("parent")
    )
    closure = transitive_closure(edges)
    doc_triples = mentions.select(
        F.xxhash64(F.concat(F.lit("doc|"), F.col("doc_id").cast("string"))).alias("subj"),
        F.lit(MENTIONS_PRED).alias("pred"),
        cid(F.col("mention")).alias("obj"),
    )
    isa_triples = closure.select(
        F.col("desc").alias("subj"), F.lit(IS_A).cast("long").alias("pred"), F.col("anc").alias("obj")
    )
    return doc_triples.unionByName(isa_triples).distinct()


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # relational core (shared-SQL)
        "q1_pricing_summary": _sql(Q1),
        "q3_top_orders": _sql(Q3),
        "semi_join_orders": _sql(Q_SEMI),
        "anti_join_customers": _sql(Q_ANTI),
        "outer_join_nation_counts": _sql(Q_OUTER),
        "set_ops_except": _sql(Q_SETOPS),
        "distinct_order_attrs": _sql(Q_DISTINCT),
        "window_top_orders": _sql(Q_WINDOW),
        "events_hourly_rollup": _sql(Q_EVENTS),
        "events_sessionize": _sql(Q_SESSIONIZE),
        "agg_median": _sql(Q_MEDIAN),
        "rollup_daily": _sql(Q_ROLLUP),
        "events_asof_join": q_asof,
        "events_range_pairs": q_range_pairs,
        # graph/closure kernels (A1-A6, S5)
        "isa_closure": q_closure,
        "direct_edges": q_direct,
        "descendants_expansion": q_descendants,
        "antichain_reduction": q_antichain,
        # text / KG operators
        "mention_extract": q_mentions,
        "token_stats": q_token_stats,
        "quality_score": q_quality,
        "lang_id": q_lang_id,
        "doc_fingerprint": q_fingerprint,
        "dedup_exact": q_dedup_exact,
        "dedup_jaccard": q_jaccard,
        "minhash_signatures": q_minhash,
        "minhash_lsh_pairs": q_lsh,
        "simhash": q_simhash,
        # similarity search
        "ann_cosine_topk": q_ann_topk,
        "ann_ivf_assign": q_ivf,
        "ann_ivf_search": q_ivf_search,
        "dedup_embedding_cosine": q_neardup_embedding,
        # end-to-end pipelines
        "kg_corpus_triples": q_kg_corpus,
        "subontology_fixture_triples": q_subontology_fixture,
        "concrete_values_triples": q_concrete_values,
        "module_extraction": q_module_extraction,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "q1_pricing_summary": Q1,
        "q3_top_orders": Q3,
        "semi_join_orders": Q_SEMI,
        "anti_join_customers": Q_ANTI,
        "outer_join_nation_counts": Q_OUTER,
        "set_ops_except": Q_SETOPS,
        "distinct_order_attrs": Q_DISTINCT,
        "window_top_orders": Q_WINDOW,
        "events_hourly_rollup": Q_EVENTS,
        "events_sessionize": Q_SESSIONIZE,
        "agg_median": Q_MEDIAN,
        "rollup_daily": Q_ROLLUP,
        "events_asof_join": ORACLE_ASOF,
        "events_range_pairs": ORACLE_RANGE_PAIRS,
        "isa_closure": ORACLE_CLOSURE,
        "direct_edges": ORACLE_DIRECT,
        "descendants_expansion": ORACLE_DESCENDANTS,
        "antichain_reduction": ORACLE_ANTICHAIN,
        "mention_extract": ORACLE_MENTIONS,
        "token_stats": ORACLE_TOKEN_STATS,
        "quality_score": ORACLE_QUALITY,
        "lang_id": ORACLE_LANG_ID,
        "doc_fingerprint": ORACLE_FINGERPRINT,
        "dedup_exact": ORACLE_DEDUP_EXACT,
        "dedup_jaccard": ORACLE_JACCARD,
        "minhash_signatures": ORACLE_MINHASH,
        "minhash_lsh_pairs": ORACLE_LSH,
        "simhash": ORACLE_SIMHASH,
        "ann_cosine_topk": ORACLE_ANN_TOPK,
        "ann_ivf_assign": ORACLE_IVF,
        "ann_ivf_search": _ivf_search_oracle(),
        "dedup_embedding_cosine": _neardup_oracle(),
        "kg_corpus_triples": _kg_oracle_sql(KG_N, KG_NC),
        # the extraction pipeline's expected output is a fixed constant
        # (the reference's own CI expectations) — literal VALUES oracles
        "subontology_fixture_triples": _fixture_oracle(),
        "concrete_values_triples": _concrete_oracle(),
        "module_extraction": _module_oracle(),
    }
