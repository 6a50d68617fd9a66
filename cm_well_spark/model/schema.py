"""Canonical lakehouse schema for the infoton data model.

Reference data model (see SURVEY.md §1):
  - An *infoton* = all triples sharing one subject, stored entity-per-row
    (reference: `cmwell.domain.Infoton`, Infoton.scala:74; "flattening the
    physical model", docs/Introduction/Intro.CM-WellDataParadigms.md:85-89).
  - fields: dynamic, multi-valued, typed, quad-tagged
    (`fields: Option[Map[String, Set[FieldValue]]]`, Infoton.scala:77;
    FieldValue hierarchy Infoton.scala:504-709).
  - System fields (Infoton.scala:69): path, lastModified, lastModifiedBy,
    dc, indexTime, protocol; derived parent (Infoton.scala:40-64) and uuid
    (Infoton.scala:139-168).

Spark-first layout: ONE doc-oriented table (like the reference's ES index,
indices_template_new.json) + a derived EAV `triples` view (like the
reference's Cassandra `data2.Infoton` EAV table,
cassandra-cql-init-cluster-new:1-3). Typed shadow columns (num/ts/bool)
inside the value struct make range predicates type-correct, mirroring the
type-mangled dynamic templates (`*.i$*`->integer etc.) of the ES mapping.

Scale posture (100 TB): the doc table is partitioned by `kind` and
written sorted by `path` (parquet min/max skipping on point lookups); the
triples table is partitioned by predicate `p` so a bound-predicate scan
(every qp filter, every SPARQL BGP pattern) prunes to one partition
directory instead of scanning the full fields column of every row.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Value-type codes, after the reference's type-mangling prefixes
# (Infoton.scala:527-537): s=string/reference/external, i=int, l=long/bigint,
# f=float, w=double/bigdecimal, b=boolean, d=date.
VTYPE = {
    "string": "s",
    "ref": "s",  # FReference indexes as string; join key (Infoton.scala:672)
    "int": "i",
    "long": "l",
    "float": "f",
    "double": "w",
    "bool": "b",
    "date": "d",
}

# One field value: lexical form + type code + optional lang / quad (named
# graph) tag + typed shadows for type-correct comparison and sorting.
FIELD_VALUE_TYPE = T.StructType(
    [
        T.StructField("value", T.StringType()),
        T.StructField("vtype", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("quad", T.StringType()),
        T.StructField("num", T.DoubleType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("bool", T.BooleanType()),
    ]
)

INFOTON_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("uuid", T.StringType(), False),
        # ObjectInfoton | CompoundInfoton | LinkInfoton | DeletedInfoton |
        # FileInfoton | GhostInfoton | VirtualInfoton (Infoton.scala:221-441)
        T.StructField("kind", T.StringType(), False),
        T.StructField("parent", T.StringType()),
        T.StructField("parent_hierarchy", T.ArrayType(T.StringType())),
        T.StructField("last_modified", T.TimestampType()),
        T.StructField("last_modified_by", T.StringType()),
        T.StructField("dc", T.StringType()),
        T.StructField("index_time", T.LongType()),
        T.StructField("current", T.BooleanType()),
        T.StructField("protocol", T.StringType()),
        T.StructField("fields", T.MapType(T.StringType(), T.ArrayType(FIELD_VALUE_TYPE))),
        # FileInfoton payload (Infoton.scala:335,418)
        T.StructField("mime_type", T.StringType()),
        T.StructField("data", T.BinaryType()),
        T.StructField("data_pointer", T.StringType()),
        # LinkInfoton payload (Infoton.scala:275; linkType Infoton.scala:269)
        T.StructField("link_to", T.StringType()),
        T.StructField("link_kind", T.IntegerType()),
    ]
)


def _nullable(t: T.DataType) -> T.DataType:
    if isinstance(t, T.StructType):
        return T.StructType([T.StructField(f.name, _nullable(f.dataType)) for f in t.fields])
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_nullable(t.elementType))
    if isinstance(t, T.MapType):
        return T.MapType(t.keyType, _nullable(t.valueType))
    return t


def stored(schema: T.StructType, partition: str | None = None) -> T.StructType:
    """The schema a parquet read returns for a table written from
    `schema` (partitioned by `partition`): the data columns in write
    order, the partition column last, every column and nested value
    nullable. A reader given it runs no schema-inference job, and files
    holding the same columns in another order still match, since parquet
    columns resolve by name."""
    data = [f for f in schema.fields if f.name != partition]
    last = [f for f in schema.fields if f.name == partition]
    return T.StructType([T.StructField(f.name, _nullable(f.dataType)) for f in data + last])
