"""RF2-style triple materialization + sinks (SURVEY.md §2.1 S7-S9, P14-P15).

``triples_from_nnf`` is the engine's core output reshape: NNF definition
rows → (subj, pred, obj, rel_group) relationship rows, the exact content
of the reference's sct2_Relationship_Snapshot file (RF2Printer.java:194-279
via the owltoolkit axiom→relationship conversion):

* named-class conjunct        → (cls, 116680003 |is a|, parent, 0)
* ungrouped attribute ∃R.C    → (cls, R, C, 0)
* role group RG(∃R.C ⊓ …)     → one numbered group per RG conjunct;
                                 members share the group number
* property definition r ⊑ s   → (r, 116680003, s, 0)

Relationship ids are generated with row_number + a JVM-native Verhoeff
check digit (writers/VerhoeffCheck.java:27-55, SCTIDSource.java:15-19) —
deterministic ordering, never monotonically_increasing_id (breaks
resume/retry determinism at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .model import CORE_MODULE, INFERRED_RELATIONSHIP, IS_A, MODIFIER_SOME, ROLE_GROUP, Ontology
from .util import chk


def _rf2_value_col(lit_col) -> F.Column:
    """OWL literal → RF2 concrete value: numeric types get a '#' prefix,
    strings keep surrounding double quotes — the public snomed-owl-toolkit
    Relationship value encoding the reference writes via
    rel.getValue().getRF2Value() (RF2Printer.java:252-254)."""
    lex = F.regexp_extract(lit_col, r'^"((?:[^"\\]|\\.)*)"', 1)
    dtype = F.regexp_extract(lit_col, r"\^\^(?:xsd:)?(\w+)$", 1)
    numeric = dtype.isin(
        # full XSD numeric datatype family (owl2 datatype map) — any of
        # these gets the '#' prefix, everything else stays quoted
        "decimal", "integer", "int", "long", "float", "double", "short", "byte",
        "nonNegativeInteger", "nonPositiveInteger", "positiveInteger",
        "negativeInteger", "unsignedLong", "unsignedInt", "unsignedShort",
        "unsignedByte",
    )
    return F.when(numeric, F.concat(F.lit("#"), lex)).otherwise(
        F.concat(F.lit('"'), lex, F.lit('"'))
    )


def triples_from_nnf(nnf_rows: DataFrame, prop_defs: DataFrame, ont: Ontology) -> DataFrame:
    """P14: (subj, pred, obj, rel_group, value) from NNF def rows +
    property defs.  Object rows carry value=NULL; concrete-domain rows
    (data PVs, RF2Printer.java:230 rel.isConcrete()) carry obj=NULL and
    the RF2-encoded value.

    Group numbering: dense_rank of the group PV id within each subject,
    starting at 1 (ungrouped = 0) — deterministic under retries."""
    nullv = F.lit(None).cast("string")
    isa = nnf_rows.filter(F.col("kind") == "c").select(
        F.col("sub_id").alias("subj"),
        F.lit(IS_A).cast("long").alias("pred"),
        F.col("ref_id").alias("obj"),
        F.lit(0).alias("rel_group"),
        nullv.alias("value"),
    )
    pv_rows = nnf_rows.filter(F.col("kind") == "p").join(
        ont.pvs.withColumnRenamed("pv_id", "ref_id"), "ref_id"
    )
    ungrouped = pv_rows.filter(
        (F.col("role_id") != ROLE_GROUP) & F.col("filler_concept").isNotNull()
    ).select(
        F.col("sub_id").alias("subj"),
        F.col("role_id").alias("pred"),
        F.col("filler_concept").alias("obj"),
        F.lit(0).alias("rel_group"),
        nullv.alias("value"),
    )
    concrete = pv_rows.filter(F.col("is_data")).select(
        F.col("sub_id").alias("subj"),
        F.col("role_id").alias("pred"),
        F.lit(None).cast("long").alias("obj"),
        F.lit(0).alias("rel_group"),
        _rf2_value_col(F.col("value")).alias("value"),
    )
    groups = pv_rows.filter(
        (F.col("role_id") == ROLE_GROUP) & F.col("filler_concept").isNull() & ~F.col("is_data")
    )
    w = Window.partitionBy("sub_id").orderBy("ref_id")
    groups = groups.withColumn("rel_group", F.dense_rank().over(w))
    members = (
        groups.select("sub_id", "rel_group", F.explode("filler_refs").alias("m"))
        .filter(F.col("m.kind") == "p")
        .join(
            ont.pvs.select(
                F.col("pv_id").alias("m_id"),
                F.col("role_id").alias("m_role"),
                F.col("filler_concept").alias("m_filler"),
                F.col("is_data").alias("m_is_data"),
                F.col("value").alias("m_value"),
            ),
            F.col("m.ref_id") == F.col("m_id"),
        )
        .filter(F.col("m_filler").isNotNull() | F.col("m_is_data"))
        .select(
            F.col("sub_id").alias("subj"),
            F.col("m_role").alias("pred"),
            F.col("m_filler").alias("obj"),
            F.col("rel_group"),
            F.when(F.col("m_is_data"), _rf2_value_col(F.col("m_value"))).alias("value"),
        )
    )
    # a role-group around a single bare nested PV (RG some (R some C))
    # also yields one numbered group — same path (filler_refs size 1).
    props = prop_defs.select(
        F.col("child").alias("subj"),
        F.lit(IS_A).cast("long").alias("pred"),
        F.col("parent").alias("obj"),
        F.lit(0).alias("rel_group"),
        nullv.alias("value"),
    )
    return (
        isa.unionByName(ungrouped)
        .unionByName(concrete)
        .unionByName(members)
        .unionByName(props)
        .distinct()
    )


# --- Verhoeff check digit (public algorithm; tables mirror
#     writers/VerhoeffCheck.java:27-55) --------------------------------------
_D = [
    [0, 1, 2, 3, 4, 5, 6, 7, 8, 9],
    [1, 2, 3, 4, 0, 6, 7, 8, 9, 5],
    [2, 3, 4, 0, 1, 7, 8, 9, 5, 6],
    [3, 4, 0, 1, 2, 8, 9, 5, 6, 7],
    [4, 0, 1, 2, 3, 9, 5, 6, 7, 8],
    [5, 9, 8, 7, 6, 0, 4, 3, 2, 1],
    [6, 5, 9, 8, 7, 1, 0, 4, 3, 2],
    [7, 6, 5, 9, 8, 2, 1, 0, 4, 3],
    [8, 7, 6, 5, 9, 3, 2, 1, 0, 4],
    [9, 8, 7, 6, 5, 4, 3, 2, 1, 0],
]
_P = [
    [0, 1, 2, 3, 4, 5, 6, 7, 8, 9],
    [1, 5, 7, 6, 2, 8, 3, 0, 9, 4],
    [5, 8, 0, 3, 7, 9, 6, 1, 4, 2],
    [8, 9, 1, 6, 0, 4, 3, 5, 2, 7],
    [9, 4, 5, 3, 1, 2, 6, 8, 7, 0],
    [4, 2, 8, 6, 5, 7, 3, 9, 0, 1],
    [2, 7, 9, 3, 8, 0, 6, 4, 1, 5],
    [7, 0, 4, 6, 9, 1, 3, 2, 5, 8],
    [0, 3, 5, 2, 1, 4, 8, 6, 9, 7],
]
_INV = [0, 4, 3, 2, 1, 5, 6, 7, 8, 9]


def _make_verhoeff():
    # factory-made (<locals> qualname) → cloudpickle serializes the digit
    # function BY VALUE, so a python worker that runs it never needs the
    # subont package on its PYTHONPATH
    def _verhoeff_digit(s: str) -> int:
        c = 0
        for i, ch in enumerate(reversed(s)):
            c = _D[c][_P[(i + 1) % 8][int(ch)]]
        return _INV[c]

    return _verhoeff_digit


_verhoeff_digit = _make_verhoeff()


def _sql_array(rows) -> str:
    if isinstance(rows[0], list):
        return "array(" + ", ".join(_sql_array(r) for r in rows) + ")"
    return "array(" + ", ".join(str(x) for x in rows) + ")"


def verhoeff_col(col: str) -> F.Column:
    """String column ``col`` (a non-empty digit string) with its Verhoeff
    check digit appended — a JVM-native expression (``aggregate`` over
    the digits right to left, the tables as literal arrays), so id
    generation never starts a python worker.  ``_verhoeff_digit`` is the
    python oracle."""
    c = f"`{col}`"
    digit = (
        f"aggregate(sequence(1, length({c})), 0, (acc, i) -> {_sql_array(_D)}[acc]"
        f"[{_sql_array(_P)}[i % 8][cast(substring({c}, length({c}) - i + 1, 1) as int)]])"
    )
    return F.expr(f"concat({c}, cast({_sql_array(_INV)}[{digit}] as string))")


def _global_row_number(df: DataFrame, order_cols: list[str], out_col: str = "rn") -> DataFrame:
    """Deterministic distributed 1-based global row numbering.

    Two-phase scheme (no global single-partition window): range-partition
    + sort on the order keys, count rows per partition (one metadata-sized
    aggregate → driver array of cumulative offsets), then per-partition
    ``row_number`` + the partition's offset.  Range partitions are ordered
    by key, so offset+local_rank equals the global rank wherever the
    sampled boundaries fall — stable under retries."""
    n_parts = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    ordered = (
        df.repartitionByRange(n_parts, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    ordered = ordered.localCheckpoint(eager=False)  # pin partition layout for both passes
    counts = {r["_pid"]: r["n"] for r in ordered.groupBy("_pid").agg(F.count("*").alias("n")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_expr = F.element_at(
        F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]), F.col("_pid")
    ) if offsets else F.lit(0)
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    return (
        ordered.withColumn(out_col, (F.row_number().over(w) + off_expr).cast("long"))
        .drop("_pid")
    )


def with_sctids(
    triples: DataFrame,
    namespace: int = 1000003,
    partition: str = "02",
    offset: int = 100,
) -> DataFrame:
    """P15: sequential id <offset+n><namespace><partition> + Verhoeff digit
    (SCTIDSource.java:15-19; demo namespace per
    SubOntologyRF2ConversionService.java:29).  Ids are throw-away per the
    reference README.md:69; the deterministic global numbering makes them
    stable across retries anyway.  The reference's SCTIDSource
    pre-increments, so the first id body is <offset+1> (item numbers start
    at offset+rn, matching the reference's relationship-id sequence).

    Scale: numbering is the two-phase partitioned scheme — no global
    unpartitioned window single-tasking the relationship table."""
    order_cols = ["subj", "pred", "obj", "rel_group"] + (
        ["value"] if "value" in triples.columns else []
    )
    base = _global_row_number(triples, order_cols).withColumn(
        "id_body",
        F.concat(
            (F.col("rn") + F.lit(offset)).cast("string"),
            F.lit(str(namespace)),
            F.lit(partition),
        ),
    )
    return base.withColumn("rel_id", verhoeff_col("id_body")).drop("rn", "id_body")


def relationship_rf2_files(
    triples: DataFrame, effective_time: str = ""
) -> tuple[DataFrame, DataFrame]:
    """S8: both RF2 relationship files with the reference's hard-coded
    constants (RF2Printer.java:244-272) — (standard, concrete).  One
    shared id sequence feeds both, exactly like the single SCTIDSource
    the reference passes to both writers (RF2Printer.java:204,230).  The
    concrete file's destination column is ``value`` (header at :216)."""
    if "value" not in triples.columns:
        triples = triples.withColumn("value", F.lit(None).cast("string"))
    # numbered ONCE: both files read the checkpointed base, instead of
    # each write re-running the numbering window
    base = with_sctids(triples).select(
        F.col("rel_id").alias("id"),
        F.lit(effective_time).alias("effectiveTime"),
        F.lit("1").alias("active"),
        F.lit(str(CORE_MODULE)).alias("moduleId"),
        F.col("subj").cast("string").alias("sourceId"),
        F.col("obj").cast("string").alias("destinationId"),
        F.col("value"),
        F.col("rel_group").cast("string").alias("relationshipGroup"),
        F.col("pred").cast("string").alias("typeId"),
        F.lit(str(INFERRED_RELATIONSHIP)).alias("characteristicTypeId"),
        F.lit(str(MODIFIER_SOME)).alias("modifierId"),
    )
    base = chk(base)
    common_tail = ["relationshipGroup", "typeId", "characteristicTypeId", "modifierId"]
    standard = base.filter(F.col("value").isNull()).select(
        "id", "effectiveTime", "active", "moduleId", "sourceId", "destinationId", *common_tail
    )
    concrete = base.filter(F.col("value").isNotNull()).select(
        "id", "effectiveTime", "active", "moduleId", "sourceId", "value", *common_tail
    )
    return standard, concrete


def relationship_rf2_rows(triples: DataFrame, effective_time: str = "") -> DataFrame:
    """S8 standard file only (kept for callers of object-only triple
    sets; concrete-domain rows route to the second file via
    ``relationship_rf2_files``)."""
    return relationship_rf2_files(triples, effective_time)[0]


def write_rf2_named(df: DataFrame, directory: str, filename: str) -> str:
    """Reference-layout sink: write the TSV through Spark, then surface
    the single part file under the reference's exact file name (e.g.
    ``sct2_Relationship_Snapshot_INT_<yyyyMMdd>.txt`` —
    RF2Printer.java:206-207).  Returns the final path."""
    import glob as _glob
    import os as _os
    import shutil as _shutil

    staging = _os.path.join(directory, f".{filename}.spark")
    write_rf2_tsv(df, staging)
    part = _glob.glob(_os.path.join(staging, "part-*.csv"))[0]
    final = _os.path.join(directory, filename)
    _os.makedirs(directory, exist_ok=True)
    _shutil.move(part, final)
    _shutil.rmtree(staging, ignore_errors=True)
    return final


def write_rf2_tsv(df: DataFrame, path: str) -> None:
    """TSV snapshot sink (header, tab-separated — RF2Headers.java).
    Empty fields stay empty (RF2 style) and values are NEVER quoted:
    quote/escape are disabled so Description terms containing '"' are
    emitted verbatim, matching the reference's raw tab-join output."""
    (
        df.coalesce(1)
        .write.mode("overwrite")
        .option("sep", "\t")
        .option("header", True)
        .option("emptyValue", "")
        .option("quote", "\u0000")
        .option("escape", "\u0000")
        .option("quoteAll", False)
        .csv(path)
    )


# fixed namespace for deterministic member UUIDs (RFC 4122 NAMESPACE_URL)
_UUID_NS_HEX = "6ba7b8119dad11d180b400c04fd430c8"


def uuid5_col(name_col) -> F.Column:
    """Deterministic RFC-4122 v5 UUID over a string column, computed
    JVM-side: sha1(namespace_bytes ++ name), version nibble forced to 5,
    variant bits to 10 — exactly python uuid.uuid5(NAMESPACE_URL, name)."""
    h = F.sha1(F.concat(F.unhex(F.lit(_UUID_NS_HEX)), F.encode(name_col, "UTF-8")))
    variant = F.lower(
        F.conv((F.conv(F.substring(h, 17, 1), 16, 10).cast("int") % 4 + 8).cast("string"), 10, 16)
    )
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.concat(F.lit("5"), F.substring(h, 14, 3)),
        F.concat(variant, F.substring(h, 18, 3)),
        F.substring(h, 21, 12),
    )


def owl_refset_rows(ont: Ontology, effective_time: str = "") -> DataFrame:
    """S9: OWL-expression refset rows (refsetId 733073007) — one row per
    axiom, expression rendered to functional syntax with ':'-prefixed
    ids (OWLtoRF2Service.java:38-226).  Fully distributed: the render is
    a bounded join fixpoint (owl_io.render_axioms_df) and member ids are
    deterministic v5 UUIDs over the rendered expression (strict RF2
    consumers expect UUID member ids; the reference generates random
    UUIDs, we generate content-derived ones for retry-stability)."""
    from .owl_io import render_axioms_df

    compact = F.regexp_replace(
        F.regexp_replace(F.col("expr"), "<http://snomed\\.info/id/", ":"), ">", ""
    )
    return render_axioms_df(ont).select(
        uuid5_col(compact).alias("id"),
        F.lit(effective_time).alias("effectiveTime"),
        F.lit("1").alias("active"),
        F.lit(str(CORE_MODULE)).alias("moduleId"),
        F.lit("733073007").alias("refsetId"),
        F.col("ref_id").cast("string").alias("referencedComponentId"),
        compact.alias("owlExpression"),
    )


def filter_rf2_by_signature(rf2: DataFrame, signature: DataFrame, id_col: str) -> DataFrame:
    """S7: broadcast semi-join signature filter, the distributed form of
    the reference's per-row LongOpenHashSet membership test
    (RF2ExtractionWriter.java:94-149)."""
    sig = signature.select(F.col("concept_id").cast("long").alias(id_col))
    return rf2.join(F.broadcast(sig), id_col, "left_semi")
