"""Output formatters (S9) — render infoton rows to wire formats.

Reference: FormatExtractor.scala:50-66 enumerates json/jsonl/yaml/csv/tsv/
text/atom + RDF nt/ttl/n3/rdfxml/jsonld/nq/trig/trix, each a pure function
over the infoton (JsonFormatter / CSVFormatter / RDFFormatter). Here each
renderer is a Column expression producing one output string per row (or
per triple), so formatting distributes with the scan — no driver-side
rendering.

Implemented: json (CM-Well-ish object shape), jsonl, csv/tsv (system
columns + masked field projection), text (paths only), yaml, atom entries
— per-infoton; ttl/n3, rdfxml, jsonld — per-infoton RDF documents that
round-trip through sources/rdf_formats.py; ntriples, nquads, trig, trix
— per-triple lines. Everything is a Column expression: one output string
per row, so every format distributes with the scan and a 100 TB export
is embarrassingly parallel. Multi-row envelopes (the Atom feed wrapper,
the TriX/RDF-XML document element) are constant strings the writer
prepends/appends — data never funnels through the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _system_struct() -> Column:
    return F.struct(
        F.col("path").alias("path"),
        F.col("uuid").alias("uuid"),
        F.col("kind").alias("type"),
        F.col("parent").alias("parent"),
        F.date_format("last_modified", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("lastModified"),
        F.col("last_modified_by").alias("lastModifiedBy"),
        F.col("dc").alias("dataCenter"),
        F.col("index_time").alias("indexTime"),
        F.col("protocol").alias("protocol"),
    )


def to_json_rows(infotons: DataFrame) -> DataFrame:
    """One JSON object per infoton: {"system": {...}, "fields": {name:
    [lexical values]}} — the shape of the reference's json format
    (JsonFormatter; system+fields objects)."""
    fields_simple = F.map_filter(
        F.transform_values(F.col("fields"), lambda k, vs: F.transform(vs, lambda v: v["value"])),
        lambda k, v: F.size(v) > 0,
    )
    return infotons.select(
        F.to_json(F.struct(_system_struct().alias("system"), fields_simple.alias("fields"))).alias("json")
    )


def to_jsonl(infotons: DataFrame) -> DataFrame:
    return to_json_rows(infotons)  # jsonl = one object per line


def delimited_header(field_names: list[str], sep: str = ",") -> str:
    """The header line matching to_delimited's column layout (the
    reference's CSVFormatter emits path,lastModified + field columns)."""
    return sep.join(["path", "lastModified", *field_names])


def to_delimited(infotons: DataFrame, field_names: list[str], sep: str = ",") -> DataFrame:
    """csv/tsv: path + lastModified + one column per requested field
    (first value; multi-values joined with '|'). Returns printable lines;
    prepend delimited_header(field_names, sep) writer-side (like the
    Atom/RDF-XML envelopes, the header is a constant, not data)."""
    cols = [
        F.col("path"),
        F.date_format("last_modified", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("lastModified"),
    ]
    for name in field_names:
        vals = F.col("fields").getItem(name)
        cols.append(
            F.when(vals.isNotNull(), F.concat_ws("|", F.transform(vals, lambda v: v["value"])))
            .otherwise(F.lit(""))
            .alias(name)
        )
    flat = infotons.select(*cols)
    line = F.concat_ws(sep, *[F.col(c).cast("string") for c in flat.columns])
    return flat.select(line.alias("line"))


def _escape_literal(c: Column) -> Column:
    return F.regexp_replace(F.regexp_replace(F.regexp_replace(c, r"\\", r"\\\\"), '"', r'\"'), "\n", r"\n")


def triple_lines(triples: DataFrame, quads: bool = False, base_uri: str = "cmwell://") -> DataFrame:
    """triples/quads rows -> N-Triples / N-Quads lines. References (values
    that are engine paths) render as IRIs; literals get type-correct
    quoting with lang tags and xsd datatypes (round-trips through
    sources/rdf.py)."""
    s_iri = F.concat(F.lit("<" + base_uri), F.regexp_replace("s", "^/", ""), F.lit(">"))
    p_iri = F.concat(F.lit("<"), F.col("p"), F.lit(">"))
    is_ref = F.col("o").startswith("/") & (F.col("vtype") == "s")
    dtype = {
        "i": "http://www.w3.org/2001/XMLSchema#int",
        "l": "http://www.w3.org/2001/XMLSchema#long",
        "f": "http://www.w3.org/2001/XMLSchema#float",
        "w": "http://www.w3.org/2001/XMLSchema#double",
        "b": "http://www.w3.org/2001/XMLSchema#boolean",
        "d": "http://www.w3.org/2001/XMLSchema#dateTime",
    }
    typed = F.coalesce(
        *[F.when(F.col("vtype") == k, F.lit(f'^^<{v}>')) for k, v in dtype.items()], F.lit("")
    )
    lang_suffix = F.when(
        F.col("lang").isNotNull(), F.concat(F.lit("@"), F.col("lang"))
    ).otherwise(typed)
    o_rendered = F.when(is_ref, F.concat(F.lit("<" + base_uri), F.regexp_replace("o", "^/", ""), F.lit(">"))).otherwise(
        F.concat(F.lit('"'), _escape_literal(F.col("o")), F.lit('"'), lang_suffix)
    )
    parts = [s_iri, p_iri, o_rendered]
    if quads:
        g = F.when(
            F.col("g").isNotNull(), F.concat(F.lit("<" + base_uri), F.regexp_replace("g", "^/", ""), F.lit(">"))
        ).otherwise(F.lit(""))
        parts.append(g)
    line = F.concat(F.concat_ws(" ", *parts), F.lit(" ."))
    # collapse double spaces from empty graph slot
    return triples.select(F.regexp_replace(line, r"\s+\.", " .").alias("line")).select(
        F.regexp_replace("line", r"  +", " ").alias("line")
    )


def to_text(infotons: DataFrame) -> DataFrame:
    """format=text: one path per line."""
    return infotons.select(F.col("path").alias("line"))


# ---------------------------------------------------------------------------
# per-infoton RDF documents: ttl / n3, rdfxml, jsonld
# ---------------------------------------------------------------------------

_DTYPE_IRI = {
    "i": "http://www.w3.org/2001/XMLSchema#int",
    "l": "http://www.w3.org/2001/XMLSchema#long",
    "f": "http://www.w3.org/2001/XMLSchema#float",
    "w": "http://www.w3.org/2001/XMLSchema#double",
    "b": "http://www.w3.org/2001/XMLSchema#boolean",
    "d": "http://www.w3.org/2001/XMLSchema#dateTime",
}


def _typed_suffix(v: Column) -> Column:
    typed = F.coalesce(
        *[F.when(v["vtype"] == k, F.lit(f"^^<{iri}>")) for k, iri in _DTYPE_IRI.items()],
        F.lit(""),
    )
    return F.when(v["lang"].isNotNull(), F.concat(F.lit("@"), v["lang"])).otherwise(typed)


def _ttl_object(v: Column, base_uri: str) -> Column:
    is_ref = v["value"].startswith("/") & (v["vtype"] == "s")
    return F.when(
        is_ref, F.concat(F.lit("<" + base_uri), F.regexp_replace(v["value"], "^/", ""), F.lit(">"))
    ).otherwise(F.concat(F.lit('"'), _escape_literal(v["value"]), F.lit('"'), _typed_suffix(v)))


def to_turtle(infotons: DataFrame, base_uri: str = "cmwell://") -> DataFrame:
    """format=ttl/n3: one Turtle block per infoton — subject IRI + ';'
    predicate list + ',' object lists. Round-trips through the Turtle
    parser (sources/rdf_formats.py)."""
    pred_obj = F.transform(
        F.map_entries(F.col("fields")),
        lambda e: F.concat(
            F.lit("<" + base_uri + "__field/"),
            e["key"],
            F.lit("> "),
            F.concat_ws(" , ", F.transform(e["value"], lambda v: _ttl_object(v, base_uri))),
        ),
    )
    doc = F.concat(
        F.lit("<" + base_uri),
        F.regexp_replace("path", "^/", ""),
        F.lit("> "),
        F.concat_ws(" ;\n  ", pred_obj),
        F.lit(" ."),
    )
    return infotons.select(doc.alias("doc"))


def _xml_escape(c: Column) -> Column:
    return F.regexp_replace(
        F.regexp_replace(F.regexp_replace(c, "&", "&amp;"), "<", "&lt;"), ">", "&gt;"
    )


def to_rdfxml(infotons: DataFrame, base_uri: str = "cmwell://") -> DataFrame:
    """format=rdfxml: one <rdf:Description> element per infoton; the
    <rdf:RDF> envelope is a writer-side constant (see RDFXML_OPEN/CLOSE).
    Fields render as cmw:<name> property elements with rdf:resource /
    rdf:datatype / xml:lang, round-tripping through the RDF/XML parser."""
    def prop(e):
        def one(v):
            is_ref = v["value"].startswith("/") & (v["vtype"] == "s")
            dt = F.coalesce(
                *[F.when(v["vtype"] == k, F.lit(f' rdf:datatype="{iri}"')) for k, iri in _DTYPE_IRI.items()],
                F.lit(""),
            )
            lang = F.when(v["lang"].isNotNull(), F.concat(F.lit(' xml:lang="'), v["lang"], F.lit('"'))).otherwise(
                F.lit("")
            )
            return F.when(
                is_ref,
                F.concat(
                    F.lit('<cmw:'), e["key"],
                    F.lit(f' rdf:resource="{base_uri}'), F.regexp_replace(v["value"], "^/", ""), F.lit('"/>'),
                ),
            ).otherwise(
                F.concat(
                    F.lit("<cmw:"), e["key"], dt, lang, F.lit(">"),
                    _xml_escape(v["value"]),
                    F.lit("</cmw:"), e["key"], F.lit(">"),
                )
            )

        return F.concat_ws("", F.transform(e["value"], one))

    body = F.concat_ws("", F.transform(F.map_entries(F.col("fields")), prop))
    doc = F.concat(
        F.lit(f'<rdf:Description rdf:about="{base_uri}'),
        F.regexp_replace("path", "^/", ""),
        F.lit('">'),
        body,
        F.lit("</rdf:Description>"),
    )
    return infotons.select(doc.alias("doc"))


RDFXML_OPEN = (
    '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
    'xmlns:cmw="cmwell://__field/">'
)
RDFXML_CLOSE = "</rdf:RDF>"


def to_jsonld(infotons: DataFrame, base_uri: str = "cmwell://") -> DataFrame:
    """format=jsonld: one node object per infoton with @id + @vocab
    context; values keep their lexical form (typed values as @value
    objects). Round-trips through the JSON-LD parser."""
    fields_json = F.to_json(
        F.transform_values(
            F.col("fields"),
            lambda k, vs: F.transform(
                vs,
                lambda v: F.when(
                    v["lang"].isNotNull(),
                    F.to_json(F.struct(v["value"].alias("@value"), v["lang"].alias("@language"))),
                ).otherwise(
                    F.coalesce(
                        *[
                            F.when(
                                v["vtype"] == kk,
                                F.to_json(F.struct(v["value"].alias("@value"), F.lit(iri).alias("@type"))),
                            )
                            for kk, iri in _DTYPE_IRI.items()
                        ],
                        F.to_json(F.struct(v["value"].alias("@value"))),
                    )
                ),
            ),
        )
    )
    # the inner values are pre-serialized JSON objects; unescape the one
    # level of string-quoting that to_json added around them
    fields_part = F.regexp_replace(
        F.regexp_replace(fields_json, r'"\{', "{"), r'\}"', "}"
    )
    fields_part = F.regexp_replace(fields_part, r'\\"', '"')
    doc = F.concat(
        F.lit('{"@context":{"@vocab":"' + base_uri + '__field/"},"@id":"' + base_uri),
        F.regexp_replace("path", "^/", ""),
        F.lit('",'),
        F.regexp_replace(fields_part, r"^\{", ""),
    )
    return infotons.select(doc.alias("doc"))


# ---------------------------------------------------------------------------
# per-triple lines: trig / trix
# ---------------------------------------------------------------------------


def to_trig(
    triples: DataFrame, base_uri: str = "cmwell://", default_graph: str = "urn:x-cmwell:default"
) -> DataFrame:
    """format=trig: each triple renders as its own GRAPH block — valid
    TriG (graph blocks may repeat) and fully row-parallel."""
    return _trig_lines(triples, base_uri, default_graph)


def _trig_lines(triples: DataFrame, base_uri: str, default_graph: str) -> DataFrame:
    s_iri = F.concat(F.lit("<" + base_uri), F.regexp_replace("s", "^/", ""), F.lit(">"))
    p_iri = F.concat(F.lit("<"), F.col("p"), F.lit(">"))
    is_ref = F.col("o").startswith("/") & (F.col("vtype") == "s")
    v = F.struct(F.col("o").alias("value"), F.col("vtype").alias("vtype"), F.col("lang").alias("lang"))
    o_rendered = F.when(
        is_ref, F.concat(F.lit("<" + base_uri), F.regexp_replace("o", "^/", ""), F.lit(">"))
    ).otherwise(F.concat(F.lit('"'), _escape_literal(F.col("o")), F.lit('"'), _typed_suffix(v)))
    g_iri = F.when(
        F.col("g").isNotNull() & F.col("g").startswith("/"),
        F.concat(F.lit("<" + base_uri), F.regexp_replace("g", "^/", ""), F.lit(">")),
    ).when(F.col("g").isNotNull(), F.concat(F.lit("<"), F.col("g"), F.lit(">"))).otherwise(
        F.lit("<" + default_graph + ">")
    )
    line = F.concat(g_iri, F.lit(" { "), s_iri, F.lit(" "), p_iri, F.lit(" "), o_rendered, F.lit(" . }"))
    return triples.select(line.alias("line"))


def to_trix(triples: DataFrame, base_uri: str = "cmwell://") -> DataFrame:
    """format=trix: one <triple> element per row; the <TriX>/<graph>
    envelope is writer-side (TRIX_OPEN/CLOSE)."""
    s_uri = F.concat(F.lit("<uri>" + base_uri), F.regexp_replace("s", "^/", ""), F.lit("</uri>"))
    p_uri = F.concat(F.lit("<uri>"), _xml_escape(F.col("p")), F.lit("</uri>"))
    is_ref = F.col("o").startswith("/") & (F.col("vtype") == "s")
    dt = F.coalesce(
        *[F.when(F.col("vtype") == k, F.lit(iri)) for k, iri in _DTYPE_IRI.items()],
        F.lit("http://www.w3.org/2001/XMLSchema#string"),
    )
    o_xml = F.when(
        is_ref, F.concat(F.lit("<uri>" + base_uri), F.regexp_replace("o", "^/", ""), F.lit("</uri>"))
    ).otherwise(
        F.concat(F.lit('<typedLiteral datatype="'), dt, F.lit('">'), _xml_escape(F.col("o")), F.lit("</typedLiteral>"))
    )
    line = F.concat(F.lit("<triple>"), s_uri, p_uri, o_xml, F.lit("</triple>"))
    return triples.select(line.alias("line"))


TRIX_OPEN = '<TriX xmlns="http://www.w3.org/2004/03/trix/trix-1/"><graph>'
TRIX_CLOSE = "</graph></TriX>"


def to_jsonldq(
    triples: DataFrame, base_uri: str = "cmwell://", default_graph: str = "urn:x-cmwell:default"
) -> DataFrame:
    """format=jsonldq (JsonLDQFormatter, RDFFormatter.scala:686 — the
    quad-aware JSON-LD flavor): each row renders as a self-contained
    graph object `{"@id": <graph>, "@graph": [{node}]}`. Graph objects
    may repeat across the enveloping array exactly like to_trig's
    repeated GRAPH blocks — JSON-LD consumers merge them — which keeps
    the formatter fully row-parallel (no per-graph grouping shuffle).
    Writer envelope: JSONLDQ_OPEN + ",".join(lines) + JSONLDQ_CLOSE."""
    s_iri = F.concat(F.lit(base_uri), F.regexp_replace("s", "^/", ""))
    is_ref = F.col("o").startswith("/") & (F.col("vtype") == "s")
    dt = F.coalesce(
        *[F.when(F.col("vtype") == k, F.lit(iri)) for k, iri in _DTYPE_IRI.items()],
        F.lit(None).cast("string"),
    )
    esc = F.regexp_replace(
        F.regexp_replace(F.col("o"), r"\\", r"\\\\"), '"', r'\"'
    )
    val_obj = F.when(
        is_ref,
        F.concat(F.lit('{"@id":"' + base_uri), F.regexp_replace("o", "^/", ""), F.lit('"}')),
    ).when(
        F.col("lang").isNotNull(),
        F.concat(F.lit('{"@value":"'), esc, F.lit('","@language":"'), F.col("lang"), F.lit('"}')),
    ).when(
        dt.isNotNull(),
        F.concat(F.lit('{"@value":"'), esc, F.lit('","@type":"'), dt, F.lit('"}')),
    ).otherwise(F.concat(F.lit('{"@value":"'), esc, F.lit('"}')))
    g_id = F.when(
        F.col("g").isNotNull() & F.col("g").startswith("/"),
        F.concat(F.lit(base_uri), F.regexp_replace("g", "^/", "")),
    ).when(F.col("g").isNotNull(), F.col("g")).otherwise(F.lit(default_graph))
    line = F.concat(
        F.lit('{"@id":"'), g_id,
        F.lit('","@graph":[{"@id":"'), s_iri,
        F.lit('","'), F.col("p"), F.lit('":['), val_obj, F.lit("]}]}"),
    )
    return triples.select(line.alias("line"))


JSONLDQ_OPEN = "["
JSONLDQ_CLOSE = "]"


# ---------------------------------------------------------------------------
# yaml / atom
# ---------------------------------------------------------------------------


def _json_quote(c: Column) -> Column:
    """Double-quoted JSON-style string (valid YAML scalar)."""
    esc = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(F.regexp_replace(c, r"\\", r"\\\\"), '"', r'\"'), "\n", r"\n"),
        "\t",
        r"\t",
    )
    return F.concat(F.lit('"'), esc, F.lit('"'))


def to_yaml(infotons: DataFrame) -> DataFrame:
    """format=yaml: one YAML document per infoton (values JSON-quoted —
    valid YAML scalars — so no hand escaping)."""
    field_lines = F.transform(
        F.map_entries(F.col("fields")),
        lambda e: F.concat(
            F.lit("  "),
            e["key"],
            F.lit(":\n"),
            F.concat_ws(
                "\n", F.transform(e["value"], lambda v: F.concat(F.lit("    - "), _json_quote(v["value"])))
            ),
        ),
    )
    doc = F.concat(
        F.lit("path: "), _json_quote(F.col("path")), F.lit("\nfields:\n"), F.concat_ws("\n", field_lines)
    )
    return infotons.select(doc.alias("doc"))


def to_atom_entries(infotons: DataFrame, base_uri: str = "cmwell://") -> DataFrame:
    """format=atom: one <entry> per infoton; the <feed> envelope is
    writer-side (ATOM_OPEN/CLOSE). Mirrors the reference's atom search
    wrapper (FormatExtractor 'atom')."""
    updated = F.date_format("last_modified", "yyyy-MM-dd'T'HH:mm:ss'Z'")
    entry = F.concat(
        F.lit("<entry><id>" + base_uri),
        F.regexp_replace("path", "^/", ""),
        F.lit("</id><title>"),
        _xml_escape(F.col("path")),
        F.lit("</title><updated>"),
        F.coalesce(updated, F.lit("")),
        F.lit("</updated></entry>"),
    )
    return infotons.select(entry.alias("doc"))


ATOM_OPEN = '<feed xmlns="http://www.w3.org/2005/Atom"><title>cm-well search results</title>'
ATOM_CLOSE = "</feed>"


def atom_pagination_links(
    search_url: str,
    total: int,
    offset: int,
    length: int,
    extra_params: str = "",
) -> list[str]:
    """Writer-side pagination `<link rel=.../>` lines for the atom feed
    envelope — the reference's PaginationInfo contract, byte for byte
    (Application.scala:2250-2288): `first` is always offset=0; `last`
    rounds the total down to a page boundary; `next` exists only while
    offset+length < total; `previous` exists for any offset > 0 and
    clamps to 0 on a partial back-step. Inputs are the search's bounded
    scalars (offset/length/total), so this is pure driver-side string
    work — nothing distributed to paginate."""
    link_base = f"{search_url}{extra_params}&length={length}"
    links = [("self", f"{link_base}&offset={offset}"), ("first", f"{link_base}&offset=0")]
    last_off = (total // length) * length if length > 0 else 0
    links.append(("last", f"{link_base}&offset={last_off}"))
    if offset + length < total:
        links.append(("next", f"{link_base}&offset={offset + length}"))
    dif = offset - length
    if dif >= 0:
        links.append(("previous", f"{link_base}&offset={dif}"))
    elif -dif < length:
        links.append(("previous", f"{link_base}&offset=0"))
    return [f'<link rel="{rel}" href="{_xml_escape_str(href)}"/>' for rel, href in links]


def _xml_escape_str(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace('"', "&quot;")


FORMATTERS = {
    "json": to_json_rows,
    "jsonl": to_jsonl,
    "text": to_text,
    "yaml": to_yaml,
    "ttl": to_turtle,
    "n3": to_turtle,
    "rdfxml": to_rdfxml,
    "jsonld": to_jsonld,
    "atom": to_atom_entries,
}

# triple-table formatters (input = triples rows, not infoton rows)
TRIPLE_FORMATTERS = {
    "nt": lambda t: triple_lines(t, quads=False),
    "nq": lambda t: triple_lines(t, quads=True),
    "trig": lambda t: _trig_lines(t, "cmwell://", "urn:x-cmwell:default"),
    "trix": to_trix,
    "jsonldq": to_jsonldq,
}
