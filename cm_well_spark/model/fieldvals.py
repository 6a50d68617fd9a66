"""Constructors and accessors for the typed field-value struct.

All JVM-side (Spark SQL and pyspark.sql.functions only) — these appear in
every hot path, so no Python UDFs here. The constructors return SQL text
rather than Columns: the ingest builder puts a few dozen of them into one
`selectExpr` per kind, which the JVM parses in one call, where each
`pyspark.sql.functions` call is a round trip of its own. A Column caller
wraps the text in `F.expr`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from cm_well_spark.model.schema import FIELD_VALUE_TYPE

# the typed shadow each value type fills; the others stay NULL
_SHADOW = {"i": "num", "l": "num", "f": "num", "w": "num", "d": "ts", "b": "bool"}


def fv(expr: str, vtype: str, lang: str | None = None, quad: str | None = None) -> str:
    """SQL for one field-value struct from a source expression.

    Keeps the lexical form in `value` and parses typed shadows so range
    predicates are type-correct (reference: `fieldType()` dispatch,
    FTSService.scala:280-300, and the ES dynamic templates that map mangle
    prefixes to typed index fields)."""
    vals = {"value": f"CAST({expr} AS STRING)", "vtype": f"'{vtype}'", "lang": lang, "quad": quad}
    shadow = _SHADOW.get(vtype)
    if shadow:
        vals[shadow] = f"CAST({expr} AS {FIELD_VALUE_TYPE[shadow].dataType.simpleString()})"
    if vtype == "d":
        vals["value"] = f"date_format({vals['ts']}, \"yyyy-MM-dd'T'HH:mm:ss.SSS'Z'\")"
    return "named_struct({})".format(
        ", ".join(
            f"'{f.name}', {vals.get(f.name) or f'CAST(NULL AS {f.dataType.simpleString()})'}"
            for f in FIELD_VALUE_TYPE.fields
        )
    )


def single(expr: str, vtype: str, lang: str | None = None, quad: str | None = None) -> str:
    """SQL for a single-valued field: array of one value struct (values are
    SETS in the model — Infoton.scala:77 — so even scalars are arrays)."""
    return (
        f"CASE WHEN {expr} IS NOT NULL THEN array({fv(expr, vtype, lang, quad)}) "
        f"ELSE CAST(NULL AS array<{FIELD_VALUE_TYPE.simpleString()}>) END"
    )


# ---- accessors (used by sort, projection, formatters) ----------------------


def field_values(name: str) -> Column:
    return F.col("fields").getItem(name)


def first_value(name: str) -> Column:
    """Lexical form of the first value of a field (single-valued access)."""
    return F.element_at(field_values(name), 1)["value"]


def first_num(name: str) -> Column:
    return F.element_at(field_values(name), 1)["num"]


def first_ts(name: str) -> Column:
    return F.element_at(field_values(name), 1)["ts"]
