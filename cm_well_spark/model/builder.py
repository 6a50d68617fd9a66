"""Ingest adapter: project the test tables into the canonical infoton model.

This plays the role of the reference's `_in` ingest path (InputHandler ->
LDFormatParser -> merge -> index; SURVEY.md §3.4): external entity data
becomes one infoton per subject with typed, multi-valued, quad-taggable
fields, plus derived system fields (parent, parent_hierarchy, uuid,
index_time).

Entity graph laid over the TPC-H-ish tables (FReference fields are join
keys, like the reference's FReference values — Infoton.scala:672):

    /tpch/lineitem/{ok}-{ln} --ofOrder-->   /tpch/orders/{o_orderkey}
                             --ofPart-->    /tpch/part/{p_partkey}
                             --bySupplier-> /tpch/supplier/{s_suppkey}
    /tpch/orders/{ok}        --byCustomer-> /tpch/customer/{c_custkey}
    /tpch/customer/{ck}      --inNation-->  /tpch/nation/{n_nationkey}
    /tpch/supplier/{sk}      --inNation-->  /tpch/nation/{n_nationkey}
    /tpch/nation/{nk}        --ofRegion-->  /tpch/region/{r_regionkey}
    /events/{id}             --byUser-->    /users/{user_id}   (GHOST: never written)
    /docs/{id}               (documents; `source` value quad-tagged /graphs/{source})

The dangling /users/* references deliberately reproduce the reference's
ghost-infoton behavior (GhostInfoton Infoton.scala:320; traversals skip
404 subjects, ExpansionTests.scala:238-243).

All system values are DETERMINISTIC functions of the keys so uuids and
index_time are stable across runs (uuid determinism requirement:
Infoton.scala:139-168 computes MD5 over path+lastModified+sorted fields;
we keep the same recipe shape over our canonical serialization).

Each kind is a small table of SQL text — its key, its path and one
`(field, values)` row per field — applied by one `selectExpr` per kind
(path, fields, last_modified, index_time); a second `selectExpr` over the
union of the kinds adds the columns every kind derives alike (uuid,
parent, parent_hierarchy, constants). The JVM parses each in one call;
the same projection built from `pyspark.sql.functions` Columns cost about
2,900 Python -> JVM round trips per kind (26,000 for the store), 8-16 s of
driver time on a 4-core host before Spark ran a task, against 3-4 s for
the SQL text.
"""

from __future__ import annotations

import functools
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cm_well_spark.model.fieldvals import fv, single
from cm_well_spark.model.schema import INFOTON_SCHEMA
from cm_well_spark.sources import tables as tbl

INDEX_TIME_BASE = 1_700_000_000_000
EPOCH_2020 = 1_577_836_800  # 2020-01-01T00:00:00Z


class Kind(NamedTuple):
    key: str  # SQL: the integer key that seeds last_modified and index_time
    path: str  # SQL: the infoton path
    fields: list[tuple[str, str]]  # (field, SQL for its value array)


KINDS = {
    "region": Kind(
        "r_regionkey",
        "concat('/tpch/region/', r_regionkey)",
        [
            ("name", single("r_name", "s")),
            ("regionkey", single("r_regionkey", "l")),
            ("rdfType", single("'Region'", "s")),
        ],
    ),
    "nation": Kind(
        "n_nationkey",
        "concat('/tpch/nation/', n_nationkey)",
        [
            ("name", single("n_name", "s")),
            ("nationkey", single("n_nationkey", "l")),
            ("ofRegion", single("concat('/tpch/region/', n_regionkey)", "s")),
            ("rdfType", single("'Nation'", "s")),
        ],
    ),
    "customer": Kind(
        "c_custkey",
        "concat('/tpch/customer/', c_custkey)",
        [
            ("name", single("c_name", "s")),
            ("custkey", single("c_custkey", "l")),
            ("acctbal", single("c_acctbal", "w")),
            ("mktsegment", single("c_mktsegment", "s")),
            ("inNation", single("concat('/tpch/nation/', c_nationkey)", "s")),
            ("rdfType", single("'Customer'", "s")),
        ],
    ),
    "supplier": Kind(
        "s_suppkey",
        "concat('/tpch/supplier/', s_suppkey)",
        [
            ("name", single("s_name", "s")),
            ("suppkey", single("s_suppkey", "l")),
            ("acctbal", single("s_acctbal", "w")),
            ("inNation", single("concat('/tpch/nation/', s_nationkey)", "s")),
            ("rdfType", single("'Supplier'", "s")),
        ],
    ),
    "part": Kind(
        "p_partkey",
        "concat('/tpch/part/', p_partkey)",
        [
            ("name", single("p_name", "s")),
            ("partkey", single("p_partkey", "l")),
            ("brand", single("p_brand", "s")),
            ("ptype", single("p_type", "s")),
            ("size", single("p_size", "i")),
            ("retailprice", single("p_retailprice", "w")),
            # deliberately multi-valued (values are SETS, Infoton.scala:77)
            ("words", f"transform(array_distinct(split(p_name, ' ')), w -> {fv('w', 's')})"),
            ("rdfType", single("'Part'", "s")),
        ],
    ),
    "orders": Kind(
        "o_orderkey",
        "concat('/tpch/orders/', o_orderkey)",
        [
            ("orderkey", single("o_orderkey", "l")),
            ("orderstatus", single("o_orderstatus", "s")),
            ("totalprice", single("o_totalprice", "w")),
            ("orderdate", single("o_orderdate", "d")),
            ("orderpriority", single("o_orderpriority", "s")),
            ("byCustomer", single("concat('/tpch/customer/', o_custkey)", "s")),
            ("rdfType", single("'Order'", "s")),
        ],
    ),
    # `__rn` is the disambiguation ordinal added by _disambiguate_lineitems
    "lineitem": Kind(
        "(l_orderkey * 10 + l_linenumber) * 8 + (__rn - 1)",
        "concat('/tpch/lineitem/', l_orderkey, '-', l_linenumber, '-', __rn)",
        [
            ("orderkey", single("l_orderkey", "l")),
            ("linenumber", single("l_linenumber", "i")),
            ("quantity", single("l_quantity", "w")),
            ("extendedprice", single("l_extendedprice", "w")),
            ("discount", single("l_discount", "w")),
            ("tax", single("l_tax", "w")),
            ("returnflag", single("l_returnflag", "s")),
            ("linestatus", single("l_linestatus", "s")),
            ("shipdate", single("l_shipdate", "d")),
            ("ofOrder", single("concat('/tpch/orders/', l_orderkey)", "s")),
            ("ofPart", single("concat('/tpch/part/', l_partkey)", "s")),
            ("bySupplier", single("concat('/tpch/supplier/', l_suppkey)", "s")),
            ("rdfType", single("'Lineitem'", "s")),
        ],
    ),
    "events": Kind(
        "event_id",
        "concat('/events/', event_id)",
        [
            ("eventType", single("event_type", "s")),
            ("eventTs", single("ts", "d")),
            ("value", single("value", "w")),
            ("props", single("props", "s")),
            # ghost reference: /users/* is never written
            ("byUser", single("concat('/users/', user_id)", "s")),
            # deep same-predicate chains (depth 15 within each 16-block):
            # the fixture for unbounded `p+` closure — a bounded-depth
            # implementation answers these incompletely. NULL at block
            # heads drops the field (the `fields` filter below).
            (
                "prevEvent",
                single("CASE WHEN event_id % 16 != 0 THEN concat('/events/', event_id - 1) END", "s"),
            ),
            ("rdfType", single("'Event'", "s")),
        ],
    ),
    # `source` carries a quad (named-graph) tag — value-level quad tagging
    # per Infoton.scala:507 / FX4.
    "documents": Kind(
        "doc_id",
        "concat('/docs/', doc_id)",
        [
            ("text", single("text", "s", lang="lang")),
            ("lang", single("lang", "s")),
            ("source", single("source", "s", quad="concat('/graphs/', source)")),
            ("nchars", single("n_chars", "l")),
            ("rdfType", single("'Document'", "s")),
        ],
    ),
}
# index_time spacing: deterministic, globally unique, ordered by (kind, key)
# in the order of KINDS.
KIND_SLOT = {k: i for i, k in enumerate(KINDS)}


def _stage1(name: str) -> list[str]:
    """path, the fields map without empty fields, and the key-derived
    system values."""
    kind = KINDS[name]
    keys = ", ".join(f"'{f}'" for f, _ in kind.fields)
    values = ", ".join(v for _, v in kind.fields)
    return [
        f"{kind.path} AS path",
        f"map_filter(map_from_arrays(array({keys}), array({values})), "
        "(k, v) -> v IS NOT NULL AND size(v) > 0) AS fields",
        f"timestamp_seconds({EPOCH_2020} + CAST({kind.key} AS BIGINT) % 10000000) AS last_modified",
        f"{INDEX_TIME_BASE + KIND_SLOT[name] * 10_000_000_000} + CAST({kind.key} AS BIGINT) AS index_time",
    ]


_PARENT = "regexp_replace(path, '/[^/]+$', '')"
_SEGMENTS = "split(path, '/')"
# Stage 2, over the union of every kind's stage 1; an INFOTON_SCHEMA column
# named in neither is a typed NULL (the FileInfoton and LinkInfoton payload).
_DERIVED = {
    # uuid = md5 over path + lastModified + sorted canonical field string —
    # same *recipe shape* as Infoton.scala:139-168 (content hash identifying
    # a version); byte layout is our own canonical serialization, shared
    # with merge.content_uuid.
    "uuid": (
        "md5(concat_ws('\\n', path, date_format(last_modified, \"yyyy-MM-dd'T'HH:mm:ss'Z'\"), "
        "concat_ws(';', array_sort(transform(map_entries(fields), "
        "e -> concat_ws(':', e.key, concat_ws('|', array_sort(transform(e.value, v -> v.value)))))))))"
    ),
    "kind": "'ObjectInfoton'",
    # derived parent (Infoton.scala:40-64)
    "parent": f"CASE WHEN {_PARENT} = '' THEN '/' ELSE {_PARENT} END",
    # ES `parent_hierarchy` analyzer: "/tpch/customer/1" -> ["/", "/tpch",
    # "/tpch/customer"] (every ancestor prefix; the leading "" split element
    # supplies the "/" separator). The size guard: sequence(1, 0) runs
    # DESCENDING, so a 2-segment path ("/x") would list ITSELF as an ancestor.
    "parent_hierarchy": (
        f"concat(array('/'), CASE WHEN size({_SEGMENTS}) >= 3 THEN filter(transform("
        f"sequence(1, size({_SEGMENTS}) - 2), i -> concat_ws('/', slice({_SEGMENTS}, 1, i + 1))), "
        "p -> p != '') ELSE CAST(array() AS array<string>) END)"
    ),
    "last_modified_by": "'spark-graft'",
    "dc": "'local'",
    "current": "true",
    "protocol": "'https'",
}
_STAGE1_COLUMNS = {"path", "fields", "last_modified", "index_time"}
_STAGE2 = [
    f.name
    if f.name in _STAGE1_COLUMNS
    else f"{_DERIVED.get(f.name) or f'CAST(NULL AS {f.dataType.simpleString()})'} AS {f.name}"
    for f in INFOTON_SCHEMA.fields
]


def _disambiguate_lineitems(df: DataFrame) -> DataFrame:
    """The synthetic lineitem table does NOT have a unique
    (l_orderkey, l_linenumber) key — disambiguate with a deterministic
    ordinal (same window is reproducible in the DuckDB oracle), keeping the
    path-uniqueness invariant of the infoton model. The window's hash
    exchange also spreads the build, so lineitem gets no repartition."""
    w = Window.partitionBy("l_orderkey", "l_linenumber").orderBy(
        "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_shipdate", "l_partkey", "l_suppkey"
    )
    return df.withColumn("__rn", F.row_number().over(w))


def build_infotons(spark: SparkSession, sf_dir: str, only: list[str] | None = None) -> DataFrame:
    """Union of all entity infotons for one scale factor.

    Each RAW table is repartitioned to the session's defaultParallelism
    before the fields-map build — the one shuffle of the ingest path,
    taken while the rows are still narrow columnar data. Downstream never
    reshuffles the struct-heavy built rows (r6 B8 fix: shuffling the wide
    fields map cost ~40 s at sf0.1; shuffling raw rows is a fraction of
    that and the writes keep per-task sort order instead)."""
    width = spark.sparkContext.defaultParallelism
    parts = []
    for name in only or KINDS:
        raw = tbl.load_table(spark, sf_dir, name)
        raw = _disambiguate_lineitems(raw) if name == "lineitem" else raw.repartition(width)
        parts.append(raw.selectExpr(*_stage1(name)))
    return functools.reduce(DataFrame.union, parts).selectExpr(*_STAGE2)
