"""`POST /_sp` — SPARQL/Gremlin over a fetched subgraph (SURVEY §3.2).

The reference parses a "paths / import / sparql|gremlin" payload
(SPParser, controllers/SpHandler.scala:165-251), populates a Jena Dataset
by replaying each source line as an internal op=search/read nquads
request (PopulateAndQuery.populate:406-442), and evaluates the query on
the merged subgraph in a crashable-worker JVM.

Spark-first shape: populate = the SAME index-first search plan each
source line would run, reduced to a path set; the subgraph is the triples
table semi-joined to that set (one pruned equi-join — no HTTP loopback,
no worker boundary, no Dataset materialization). Execution reuses
sparql_query / eval_gremlin over the scoped frames, so every optimizer
the whole-graph route has (stats reorder, squash, fixpoint paths) applies
to the scoped run too.

Payload grammar (mirrors SPParser, case-insensitive headers):

    PATHS
    /a/path?op=search&qp=field::value&recursive
    /another/path
    <blank line>
    SPARQL            (or GREMLIN)
    SELECT ...        (multiple queries separated by a --- line)

Query params honored per source line: op=search (default: point read of
the path), qp, recursive / with-descendants, length, with-history,
with-deleted. `format`/`with-data` are populate-shaping in the reference
(nquads wire format) and are no-ops here — the subgraph is always the
matched infotons' triples. IMPORT lines naming stored CONSTRUCT snippets
expand the dataset before evaluation (the reference's QueriesImporter +
JenaUtils.expandDataset arc); `.jar`/`.scala` function imports are
rejected explicitly rather than silently dropped.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from urllib.parse import parse_qs, unquote

from pyspark.sql import DataFrame, functions as F

from cm_well_spark.operators import search as S
from cm_well_spark.plans.keyset import local_frame

_PLACEHOLDER = re.compile(r"%([A-Za-z]+)%")


def substitute_placeholders(text: str, params: dict[str, str] | None) -> str:
    """`%var%` -> customParams[var.lower()], or the bare word when the
    param is absent (populatePlaceHolders, SpHandler.scala:467-473 — the
    reference strips the percent signs either way)."""
    params = params or {}
    return _PLACEHOLDER.sub(lambda m: params.get(m.group(1).lower(), m.group(1)), text)


class SpParseError(ValueError):
    """Payload doesn't match the PATHS/IMPORT/SPARQL grammar (the
    reference raises ParsingException with the offending input)."""


@dataclass
class SpRequest:
    sources: list[str]
    imports: list[str]
    engine: str  # 'sparql' | 'gremlin'
    queries: list[str] = field(default_factory=list)


_MINUSES = re.compile(r"-{3,}")


def parse_sp_payload(payload: str) -> SpRequest:
    """Parse the _sp payload. Sections in order: PATHS (required),
    IMPORT (optional), SPARQL|GREMLIN (required), each header on its own
    line; query bodies split on `---` lines like the reference's
    `minuses` separator."""
    lines = payload.splitlines()
    i = 0
    while i < len(lines) and not lines[i].strip():
        i += 1
    if i >= len(lines) or lines[i].strip().lower() != "paths":
        raise SpParseError("payload must start with a PATHS section")
    i += 1
    sources: list[str] = []
    while i < len(lines) and lines[i].strip().startswith("/"):
        sources.append(lines[i].strip())
        i += 1
    if not sources:
        raise SpParseError("PATHS section lists no sources")
    imports: list[str] = []
    while i < len(lines) and not lines[i].strip():
        i += 1
    if i < len(lines) and lines[i].strip().lower() == "import":
        i += 1
        while i < len(lines) and lines[i].strip() and lines[i].strip().lower() not in ("sparql", "gremlin"):
            imports.append(lines[i].strip())
            i += 1
        while i < len(lines) and not lines[i].strip():
            i += 1
    if i >= len(lines) or lines[i].strip().lower() not in ("sparql", "gremlin"):
        raise SpParseError("expected a SPARQL or GREMLIN section")
    engine = lines[i].strip().lower()
    body = "\n".join(lines[i + 1 :]).strip()
    if not body:
        raise SpParseError(f"{engine.upper()} section is empty")
    queries = [q.strip() for q in _MINUSES.split(body) if q.strip()]
    return SpRequest(sources, imports, engine, queries)


def _source_paths(infotons: DataFrame, triples: DataFrame, source: str) -> DataFrame:
    """One populate line -> its matched path set (single `path` column),
    via the same search plan the reference's internal request runs."""
    base, _, qstr = source.partition("?")
    params = parse_qs(qstr, keep_blank_values=True)

    def flag(name: str) -> bool:
        return name in params

    op = params.get("op", ["read"])[0] or "read"
    if op == "read":
        return local_frame(infotons.sparkSession, [(unquote(base),)], "path string")
    if op != "search":
        raise SpParseError(f"populate supports op=search or a bare read path, got op={op}")
    qp = params.get("qp", [None])[0]
    length = params.get("length", [None])[0]
    df = S.search(
        infotons,
        path_filter=S.PathFilter(unquote(base), descendants=flag("recursive") or flag("with-descendants")),
        qp=unquote(qp) if qp else None,
        length=int(length) if length else None,
        with_history=flag("with-history"),
        with_deleted=flag("with-deleted"),
        enforce_limits=length is not None,
        triples=triples,
    )
    return df.select("path")


def populate(infotons: DataFrame, triples: DataFrame, sources: list[str]) -> DataFrame:
    """Union of every source line's path set, deduplicated — the Spark
    analog of the reference's merged Jena Dataset (loadRdfToDataset)."""
    out = None
    for src in sources:
        p = _source_paths(infotons, triples, src)
        out = p if out is None else out.unionByName(p)
    return out.distinct()


def _construct_as_quads(constructed: DataFrame, like: DataFrame) -> DataFrame:
    """Lift CONSTRUCT output (s, p, o) into the quad schema so it can
    union with the scoped dataset: typed shadows are re-derived from the
    term shape (numeric literal -> `num`, boolean -> `bool`), exactly how
    the builder types raw values — an expanded triple then matches typed
    FILTERs like any ingested one."""
    num = F.col("o").cast("double")
    boolean = F.when(F.col("o").isin("true", "false"), F.col("o") == "true")
    row = constructed.select(
        "s",
        "p",
        "o",
        F.lit(None).cast("string").alias("g"),
        F.when(num.isNotNull(), "w").when(boolean.isNotNull(), "b").otherwise("s").alias("vtype"),
        num.alias("num"),
        F.lit(None).cast("timestamp").alias("ts"),
        boolean.alias("bool"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(0).cast("long").alias("index_time"),
        F.lit(True).alias("current"),
        F.lit("ObjectInfoton").alias("kind"),
    )
    return row.select(*[c for c in like.columns])


def sp_eval(
    infotons: DataFrame,
    triples: DataFrame,
    payload: str,
    stats: dict | None = None,
    stored: dict[str, str] | None = None,
    custom_params: dict[str, str] | None = None,
    functions=None,
) -> list[DataFrame]:
    """Parse + populate + evaluate; one result DataFrame per query (the
    reference concatenates rendered results — callers here keep the
    frames). The subgraph scope is a semi-join of the quads on the
    populated path set: at 100 TB that set is the size of the user's
    search result (bounded by the same guards search has), and the
    semi-join broadcasts under AQE when it is small.

    IMPORT lines name stored CONSTRUCT snippets (resolved from `stored`,
    the analog of the reference's QueriesImporter fetching them from
    CM-Well paths): each runs over the populated dataset and its
    constructed triples are added before the main queries evaluate
    (JenaUtils.expandDataset, SpHandler.scala:560-578) — CONSTRUCT-rule
    inference scoped to the subgraph. `.jar` / `.scala` imports (the
    reference hot-compiles Jena functions, SpHandler.scala:525-548) map
    onto the Spark analog: the import's basename must name a function
    registered in `functions` (a FunctionRegistry, or any container of
    names), which the SPARQL bodies may then call by bare name, prefixed
    name, or full IRI. An import naming no registered function errors
    with a clear message. `custom_params` feeds `%var%` substitution in
    queries and imported snippets."""
    req = parse_sp_payload(payload)
    fn_imports = [i for i in req.imports if i.endswith((".jar", ".scala"))]
    registered = set(getattr(functions, "registered", functions or ()))
    custom_fns: set[str] = set()
    for imp in fn_imports:
        base = imp.rsplit("/", 1)[-1].rsplit(".", 1)[0]
        if base not in registered:
            raise KeyError(
                f"_sp import {imp!r}: no function {base!r} is registered — the "
                "reference hot-compiles Jena functions from the jar "
                "(SpHandler.scala:525-548); here the import must name a "
                "FunctionRegistry-registered Spark UDF passed via `functions`"
            )
        custom_fns.add(base)
    paths = populate(infotons, triples, req.sources)
    scoped = triples.join(paths.withColumnRenamed("path", "s"), "s", "left_semi")
    from cm_well_spark.operators.sparql import sparql_query

    stored_imports = [i for i in req.imports if i not in fn_imports]
    if stored_imports:
        if stored is None:
            raise KeyError("payload has IMPORT lines but no stored-query source was provided")
        for imp in stored_imports:
            text = substitute_placeholders(stored[imp], custom_params)
            expansion = sparql_query(scoped, text, stats=stats, limit_cap=None, custom_fns=custom_fns)
            scoped = scoped.unionByName(_construct_as_quads(expansion, triples))
    queries = [substitute_placeholders(q, custom_params) for q in req.queries]
    if req.engine == "gremlin":
        from cm_well_spark.operators.gremlin import eval_gremlin

        scoped_inf = infotons.join(paths, "path", "left_semi")
        return [eval_gremlin(scoped_inf, scoped, q) for q in queries]
    return [sparql_query(scoped, q, stats=stats, custom_fns=custom_fns) for q in queries]
