"""Gremlin-style traversal DSL (J6) — fluent wrapper over the engine's
join-based traversal kernels.

Reference: the cmwell-plugin-gremlin module evaluates full Gremlin Groovy
over a Blueprints graph wrapping the fetched Jena model (JenaGraph.scala,
GremlinParser.scala:28-99), so its step surface is the classic TinkerPop
2 pipe library. This module implements that vocabulary — V / has /
filter / out / in / both / loop / repeat / as_-back-select / dedup /
path-values-count — as compositions of the same pruned triples-edge hops
the xg/yg operators use, so gremlin traversals port 1:1:

    g(infotons, triples).V().has("rdfType", "Order") \
        .filter("totalprice", ">", 400000).as_("o") \
        .out("byCustomer").has("mktsegment", "BUILDING").back("o").paths()

Each step stays a declarative DataFrame transform; nothing collects until
the caller acts. Labeled steps (`as_`) thread their column through later
hops, so `back`/`select` are projections, not re-traversals — the
Blueprints pipe semantics (elements at the named step for which the
downstream pipeline matched) expressed as one Catalyst plan.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from cm_well_spark.plans.iterative import iter_checkpoint, iter_checkpoint_lazy
from cm_well_spark.plans.keyset import local_frame, restrict

_LBL = "__as_"  # label-column prefix: internal, never user-visible


def _field_pred_col(field: str, op: str, value) -> Column:
    """SOME value of `field` satisfies `op value` — shared by the fluent
    filter() pipe and the string front-end's closure translation. Numeric
    ops go through the typed `num` shadow, never a lexical cast."""
    vals = F.col("fields").getItem(field)

    def pred(v):
        if op == "==":
            return v["value"] == F.lit(str(value))
        if op == "!=":
            return v["value"] != F.lit(str(value))
        if op == "contains":
            return v["value"].contains(F.lit(str(value)))
        num = v["num"]
        if op == ">":
            return num > float(value)
        if op == ">=":
            return num >= float(value)
        if op == "<":
            return num < float(value)
        if op == "<=":
            return num <= float(value)
        raise ValueError(f"unsupported filter op {op!r}")

    return F.coalesce(F.exists(vals, pred), F.lit(False))


class GraphTraversal:
    """`bounded` tracks whether the current frontier is PROVABLY small:
    True only for explicit `V(paths)` seed lists (optionally narrowed by
    `has`/`filter`). A hop's fan-out is unbounded — even from a tiny seed
    set — and `V()` is the whole vertex set, so those frontiers carry no
    static broadcast hint; AQE's runtime size check converts the semi
    join to a broadcast when the actual set is small (VERDICT r1
    finding 4). `bounded` drives only those frontier hints: a named
    side-effect set is bounded by nothing, so except_/retain restrict
    by it through keyset.restrict, which counts it once.

    The frontier frame is `path` plus one `__as_<name>` column per
    `as_` label seen so far; hops preserve label columns via an inner
    join when labels exist and stay on the cheaper semi-join route when
    the traversal is unlabeled."""

    def __init__(
        self,
        infotons: DataFrame,
        triples: DataFrame,
        frontier: DataFrame | None = None,
        bounded: bool = False,
        side_effects: dict[str, DataFrame] | None = None,
    ):
        self.infotons = infotons.where(F.col("current"))
        self.triples = triples.where(F.col("current"))
        self.frontier = frontier  # DataFrame["path" (+ label cols)]
        self.bounded = bounded
        # named side-effect sets (Blueprints aggregate/store), read back
        # by except_/retain/cap
        self.side_effects = side_effects or {}

    def _with(self, frontier: DataFrame, bounded: bool = False) -> "GraphTraversal":
        return GraphTraversal(
            self.infotons, self.triples, frontier, bounded, self.side_effects
        )

    def _hinted(self, df: DataFrame) -> DataFrame:
        return F.broadcast(df) if self.bounded else df

    def _labels(self) -> list[str]:
        return [c for c in self.frontier.columns if c.startswith(_LBL)]

    # ---- steps ----

    def V(self, *paths: str) -> "GraphTraversal":
        if paths:
            f = local_frame(self.infotons.sparkSession, [(p,) for p in paths], "path string")
            return self._with(f, bounded=True)
        return self._with(self.infotons.select("path"), bounded=False)

    def has(self, field: str, value: str | None = None) -> "GraphTraversal":
        vals = F.col("fields").getItem(field)
        cond = vals.isNotNull() & (F.size(vals) > 0)
        if value is not None:
            cond = cond & F.coalesce(F.exists(vals, lambda v: v["value"] == F.lit(value)), F.lit(False))
        keep = self.infotons.where(cond).select("path")
        return self._with(self.frontier.join(keep, "path", "left_semi"), bounded=self.bounded)

    def filter(self, field: str, op: str = "==", value=None) -> "GraphTraversal":
        """Property-predicate filter (the `filter{...}` closure pipe,
        declaratively): keep vertices where SOME value of `field`
        satisfies `op value`. Numeric ops compare through the typed `num`
        shadow, never a lexical cast."""
        keep = self.infotons.where(_field_pred_col(field, op, value)).select("path")
        return self._with(self.frontier.join(keep, "path", "left_semi"), bounded=self.bounded)

    def where_(self, cond: Column) -> "GraphTraversal":
        """Escape hatch: arbitrary Column predicate over the hydrated
        infoton row (`fields` map etc.)."""
        keep = self.infotons.where(cond).select("path")
        return self._with(self.frontier.join(keep, "path", "left_semi"), bounded=self.bounded)

    def _edge_hop(self, labels: tuple[str, ...], reverse: bool) -> DataFrame:
        t = self.triples.where((F.col("vtype") == "s") & F.col("o").startswith("/"))
        if labels:
            t = t.where(F.col("p").isin(list(labels)))
        src, dst = ("o", "s") if reverse else ("s", "o")
        e = t.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        lbls = self._labels()
        if lbls:
            # labeled traversal: inner join carries the label columns to
            # the hop targets (needed by back/select)
            fr = self._hinted(self.frontier.select(F.col("path").alias("src"), *lbls).distinct())
            out = e.join(fr, "src", "inner").select(F.col("dst").alias("path"), *lbls).distinct()
        else:
            fr = self._hinted(self.frontier.select(F.col("path").alias("src")).distinct())
            out = e.join(fr, "src", "left_semi").select(F.col("dst").alias("path")).distinct()
        # vertices must exist (ghost skip)
        return out.join(self.infotons.select("path"), "path", "left_semi")

    def out(self, *labels: str) -> "GraphTraversal":
        return self._with(self._edge_hop(labels, reverse=False))

    def in_(self, *labels: str) -> "GraphTraversal":
        return self._with(self._edge_hop(labels, reverse=True))

    def both(self, *labels: str) -> "GraphTraversal":
        fwd = self._edge_hop(labels, reverse=False)
        rev = self._edge_hop(labels, reverse=True)
        return self._with(fwd.unionByName(rev).distinct())

    def repeat(
        self,
        times: int,
        step: Callable[["GraphTraversal"], "GraphTraversal"],
        emit: bool = False,
    ) -> "GraphTraversal":
        """Bounded `loop`/`repeat` pipe: apply `step` `times` times.
        `emit=True` unions every intermediate frontier (seed included)
        into the result — TinkerPop's emitting loop. Each round's
        frontier is iter_checkpoint'd so the accumulated plan doesn't
        re-derive the whole chain per level (same discipline as
        traversal.expand_out)."""
        if times < 0:
            raise ValueError("repeat times must be >= 0")
        cur: GraphTraversal = self
        acc = self.frontier.select("path")
        for _ in range(times):
            cur = step(cur)
            # lazy (r11): plan-depth bounding without a per-round job —
            # blocks land inside the traversal's final action
            cur = cur._with(cur.frontier.transform(iter_checkpoint_lazy), cur.bounded)
            if emit:
                acc = acc.unionByName(cur.frontier.select("path")).distinct()
        if emit:
            return self._with(acc.transform(iter_checkpoint_lazy))
        return cur

    def loop(self, times: int, *labels: str, emit: bool = True) -> "GraphTraversal":
        """`loop` sugar: repeat an out-hop over `labels` `times` times,
        emitting seed + every intermediate (the friend-of-friend-depth-n
        shape)."""
        return self.repeat(times, lambda t: t.out(*labels), emit=emit)

    def as_(self, name: str) -> "GraphTraversal":
        """Label the current step (`as` pipe): remembered for back/select."""
        return self._with(
            self.frontier.withColumn(f"{_LBL}{name}", F.col("path")), self.bounded
        )

    def back(self, name: str) -> "GraphTraversal":
        """`back(name)`: rewind to the elements at the labeled step for
        which the rest of the pipeline matched — a projection of the
        label column, no re-traversal."""
        col = f"{_LBL}{name}"
        if col not in self.frontier.columns:
            raise ValueError(f"no step labeled {name!r}")
        return self._with(self.frontier.select(F.col(col).alias("path")).distinct())

    def dedup(self) -> "GraphTraversal":
        return self._with(self.frontier.distinct(), self.bounded)

    def order(self, field: str | None = None, desc: bool = False) -> "GraphTraversal":
        """`order` pipe: by a property's first value (typed shadows first,
        like the search sort), or by path when no field is given. Ordering
        is a property of the FRONTIER frame — terminals preserve it only
        until the next shuffling step, same as any DataFrame sort."""
        if field is None:
            return self._with(
                self.frontier.orderBy(F.col("path").desc() if desc else F.col("path").asc()),
                self.bounded,
            )
        first = F.element_at(F.col("fields").getItem(field), 1)
        keyed = self.infotons.select(
            "path", first["num"].alias("__k1"), first["value"].alias("__k2")
        )
        j = self.frontier.join(keyed, "path", "left")
        cols = [F.col("__k1"), F.col("__k2")]
        ordered = j.orderBy(
            *[c.desc_nulls_last() if desc else c.asc_nulls_last() for c in cols],
            F.col("path").asc(),
        ).drop("__k1", "__k2")
        return self._with(ordered, self.bounded)

    def limit(self, n: int) -> "GraphTraversal":
        """`limit` pipe."""
        return self._with(self.frontier.limit(n), self.bounded)

    def range(self, lo: int, hi: int) -> "GraphTraversal":
        """`range(lo, hi)` pipe: the INCLUSIVE slice of the current
        (ordered) frontier — elements lo..hi, 0-indexed, per the
        TinkerPop-2 RangeFilterPipe contract. Compiles to
        offset+limit, which Spark pushes into a single
        CollectLimit/GlobalLimit over the sorted frame — no row_number
        shuffle needed."""
        if lo < 0 or hi < lo:
            raise ValueError(f"invalid range [{lo}, {hi}]")
        return self._with(self.frontier.offset(lo).limit(hi - lo + 1), self.bounded)

    # ---- Blueprints side-effect steps (aggregate/store/except/retain,
    # table/tree caps) — the Gremlin-2 vocabulary the reference plugin
    # gets for free from the Groovy engine (GremlinParser.eval evaluates
    # arbitrary pipes over the Blueprints JenaGraph) ------------------------

    def aggregate(self, name: str) -> "GraphTraversal":
        """AggregatePipe: snapshot the CURRENT elements into the named
        side-effect set and continue unchanged — the set is read back by
        except_/retain/cap. The classic use is friend-of-friend minus
        friends: .out().aggregate('x').out().except('x'). Gremlin-2's
        greedy (aggregate) vs lazy (store) fill-order distinction is a
        pull-engine evaluation artifact with no DataFrame analog — both
        name the same declarative set here."""
        se = dict(self.side_effects)
        se[name] = self.frontier.select("path").distinct()
        return GraphTraversal(self.infotons, self.triples, self.frontier, self.bounded, se)

    def store(self, name: str) -> "GraphTraversal":
        """StorePipe: same set semantics as aggregate (see note there)."""
        return self.aggregate(name)

    def except_(self, name: str) -> "GraphTraversal":
        """ExceptFilterPipe over a named set: keep elements NOT in it —
        one keyset.restrict anti join against the set."""
        if name not in self.side_effects:
            raise ValueError(f"no side-effect set named {name!r}")
        return self._with(restrict(self.frontier, "path", self.side_effects[name], anti=True), self.bounded)

    def retain(self, name: str) -> "GraphTraversal":
        """RetainFilterPipe over a named set: keep ONLY elements in it."""
        if name not in self.side_effects:
            raise ValueError(f"no side-effect set named {name!r}")
        return self._with(restrict(self.frontier, "path", self.side_effects[name]), self.bounded)

    def cap(self, name: str) -> DataFrame:
        """SideEffectCapPipe: emit the named aggregate/store set."""
        if name not in self.side_effects:
            raise ValueError(f"no side-effect set named {name!r}")
        return self.side_effects[name]

    def table(self) -> DataFrame:
        """TablePipe: one row per surviving binding of ALL as_-labeled
        steps (label order), plus the current position — the relational
        rendering of Gremlin-2's side-effect table."""
        lbls = self._labels()
        if not lbls:
            raise ValueError("table() needs at least one as_() label")
        return self.frontier.select(
            *[F.col(c).alias(c[len(_LBL):]) for c in lbls], "path"
        ).distinct()

    def tree(self) -> DataFrame:
        """TreePipe, flattened: the traversal trail as a (depth, parent,
        child) edge relation — depth d links the d-th labeled step to the
        d+1-th (the current position closes the trail). The nested-map
        rendering Gremlin-2 prints is a driver-side fold of exactly these
        rows; the relation is the scale-safe part."""
        lbls = self._labels()
        if not lbls:
            raise ValueError("tree() needs at least one as_() label")
        seq = [F.col(c) for c in lbls] + [F.col("path")]
        out = None
        for d in range(len(seq) - 1):
            lvl = self.frontier.select(
                F.lit(d).alias("depth"),
                seq[d].alias("parent"),
                seq[d + 1].alias("child"),
            )
            out = lvl if out is None else out.unionAll(lvl)
        return out.distinct()

    def group_count(self, field: str) -> DataFrame:
        """`groupCount` pipe over a property: (value, n) per distinct
        value across the frontier's vertices — one explode + hash agg."""
        hydrated = self.infotons.join(
            self._hinted(self.frontier.select("path").distinct()), "path", "left_semi"
        )
        vals = hydrated.select(
            F.explode(F.transform(F.col("fields").getItem(field), lambda v: v["value"])).alias("value")
        )
        return vals.groupBy("value").agg(F.count("*").alias("n"))

    # ---- terminals ----

    def paths(self) -> DataFrame:
        return self.frontier.select("path").distinct()

    def select(self, *names: str) -> DataFrame:
        """`select(a, b, ...)`: one row per surviving binding of the
        labeled steps (current position included as `path`)."""
        cols = []
        for n in names:
            col = f"{_LBL}{n}"
            if col not in self.frontier.columns:
                raise ValueError(f"no step labeled {n!r}")
            cols.append(F.col(col).alias(n))
        return self.frontier.select(*cols, "path").distinct()

    def path(self) -> DataFrame:
        """Full labeled trail: every `as_` column (in label order) plus the
        current position."""
        lbls = self._labels()
        return self.frontier.select(
            *[F.col(c).alias(c[len(_LBL):]) for c in lbls], "path"
        ).distinct()

    def values(self, field: str) -> DataFrame:
        hydrated = self.infotons.join(self._hinted(self.frontier.select("path").distinct()), "path", "left_semi")
        return hydrated.select(
            "path", F.explode(F.transform(F.col("fields").getItem(field), lambda v: v["value"])).alias("value")
        )

    def count(self) -> int:
        return self.frontier.select("path").distinct().count()

    def to_infotons(self) -> DataFrame:
        return self.infotons.join(self._hinted(self.frontier.select("path").distinct()), "path", "left_semi")


def g(infotons: DataFrame, triples: DataFrame) -> GraphTraversal:
    return GraphTraversal(infotons, triples)


# ---------------------------------------------------------------------------
# string front-end: evaluate a gremlin pipe-chain query string
# ---------------------------------------------------------------------------

# step-separator dots: outside quotes AND outside {closure} bodies AND
# followed by an identifier start, so neither the decimal point of an
# unquoted float arg (filter(..., 400000.5)) nor the property access in
# filter{it.acctbal > 3} splits a step. The lookahead requires the rest
# of the query to be a sequence of plain chars / quoted strings /
# brace-balanced closures — a dot inside an open closure leaves a bare
# '}' no alternative can consume, so it never matches.
_SEG = re.compile(r"\.(?=[A-Za-z_])(?=(?:[^{}\"']|\{[^{}]*\}|\"[^\"]*\"|'[^']*')*$)")
_CALL = re.compile(r"^\s*(\w+)\s*(?:\((.*)\)|\{(.*)\})\s*$", re.DOTALL)
_ARG = re.compile(r"\"([^\"]*)\"|'([^']*)'|([+-]?\d+(?:\.\d+)?)")

# closure term grammar, parsed in two stages: the `it` property ACCESS
# prefix, then one TAIL alternative (comparison with optional arithmetic,
# string method, case-fold comparison, or length comparison)
_CLOSURE_ACCESS = re.compile(
    r"""^\s*it\s*
        (?:\.\s*getProperty\(\s*(?:"(?P<f1>[^"]*)"|'(?P<f2>[^']*)')\s*\)
          |\[\s*(?:"(?P<f3>[^"]*)"|'(?P<f4>[^']*)')\s*\]
          |\.\s*(?P<f5>[A-Za-z_]\w*))""",
    re.VERBOSE,
)
_TAIL_CMP = re.compile(
    r"""^\s*(?:(?P<aop>[-+*/])\s*(?P<an>[+-]?\d+(?:\.\d+)?)\s*)?
        (?P<op>==|!=|>=|<=|>|<)\s*
        (?:"(?P<s1>[^"]*)"|'(?P<s2>[^']*)'|(?P<n>[+-]?\d+(?:\.\d+)?))\s*$""",
    re.VERBOSE,
)
_TAIL_STRFN = re.compile(
    r"""^\s*\.\s*(?P<fn>contains|startsWith|endsWith|matches)
        \(\s*(?:"(?P<a1>[^"]*)"|'(?P<a2>[^']*)')\s*\)\s*$""",
    re.VERBOSE,
)
_TAIL_CASE = re.compile(
    r"""^\s*\.\s*(?P<fn>toLowerCase|toUpperCase)\(\s*\)\s*
        (?P<op>==|!=)\s*(?:"(?P<a1>[^"]*)"|'(?P<a2>[^']*)')\s*$""",
    re.VERBOSE,
)
_TAIL_LEN = re.compile(
    r"""^\s*\.\s*(?:length|size)\(\s*\)\s*
        (?P<op>==|!=|>=|<=|>|<)\s*(?P<n>\d+)\s*$""",
    re.VERBOSE,
)

_CMP = {
    "==": lambda a, b: a == b,
    "!=": lambda a, b: a != b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
}
_ARITH_OPS = {
    "+": lambda a, b: a + b,
    "-": lambda a, b: a - b,
    "*": lambda a, b: a * b,
    "/": lambda a, b: a / b,
}


def _closure_term_col(part: str) -> Column:
    """One closure term -> Column. SOME value of the accessed field must
    satisfy the tail (multi-valued fields, like _field_pred_col)."""
    acc = _CLOSURE_ACCESS.match(part)
    if not acc:
        raise GremlinParseError(
            f"unsupported closure term {part.strip()!r}: expected it.<field>, "
            "it.getProperty(\"f\"), or it[\"f\"] access"
        )
    d = acc.groupdict()
    field = next(d[k] for k in ("f1", "f2", "f3", "f4", "f5") if d[k] is not None)
    tail = part[acc.end():]
    vals = F.col("fields").getItem(field)

    m = _TAIL_CMP.match(tail)
    if m:
        aop, an, op = m.group("aop"), m.group("an"), m.group("op")
        if m.group("n") is not None:
            target = float(m.group("n"))

            def pred(v):
                lhs = v["num"]
                if aop:
                    lhs = _ARITH_OPS[aop](lhs, F.lit(float(an)))
                return _CMP[op](lhs, F.lit(target))

        else:
            if aop:
                raise GremlinParseError(
                    "closure arithmetic needs a numeric comparison target"
                )
            if op not in ("==", "!="):
                raise GremlinParseError(
                    f"string comparison supports == / != only, not {op!r}"
                )
            sval = m.group("s1") if m.group("s1") is not None else m.group("s2")

            def pred(v):
                return _CMP[op](v["value"], F.lit(sval))

        return F.coalesce(F.exists(vals, pred), F.lit(False))

    m = _TAIL_STRFN.match(tail)
    if m:
        arg = m.group("a1") if m.group("a1") is not None else m.group("a2")
        fn = m.group("fn")
        fns = {
            "contains": lambda v: v["value"].contains(F.lit(arg)),
            "startsWith": lambda v: v["value"].startswith(arg),
            "endsWith": lambda v: v["value"].endswith(arg),
            # Groovy/Java String.matches is FULLY anchored; Spark rlike is
            # substring search — anchor to keep the source semantics
            "matches": lambda v: v["value"].rlike(f"^(?:{arg})$"),
        }
        return F.coalesce(F.exists(vals, fns[fn]), F.lit(False))

    m = _TAIL_CASE.match(tail)
    if m:
        arg = m.group("a1") if m.group("a1") is not None else m.group("a2")
        fold = F.lower if m.group("fn") == "toLowerCase" else F.upper
        op = m.group("op")
        return F.coalesce(
            F.exists(vals, lambda v: _CMP[op](fold(v["value"]), F.lit(arg))), F.lit(False)
        )

    m = _TAIL_LEN.match(tail)
    if m:
        n, op = int(m.group("n")), m.group("op")
        return F.coalesce(
            F.exists(vals, lambda v: _CMP[op](F.length(v["value"]), F.lit(n))),
            F.lit(False),
        )

    raise GremlinParseError(
        f"unsupported closure term {part.strip()!r} (tail {tail.strip()!r} on "
        f"it.{field}): expected a comparison (optionally with +-*/ arithmetic), "
        ".contains/.startsWith/.endsWith/.matches(<str>), .toLowerCase()/"
        ".toUpperCase() == <str>, or .length()/.size() <op> <int>"
    )


def _closure_column(body: str) -> Column:
    """Translate a Groovy-closure FILTER body to a Catalyst Column — a
    safe grammar, not an evaluator (the reference feeds closures to a
    live Groovy engine, GremlinParser.scala; we compile the property-
    predicate subset those closures almost always are). Supported per
    term: `it.field [+-*/ num] OP literal`, `it.getProperty("f")`/
    `it["f"]` access, `.contains/.startsWith/.endsWith/.matches(<str>)`,
    `.toLowerCase()/.toUpperCase() == <str>`, `.length()/.size() OP
    <int>`; terms chain with `&&` or `||`. Mixed connectives are
    rejected (Groovy gives && higher precedence; refusing beats silently
    re-associating), as is anything else (arbitrary method calls,
    traversal access) — those raise GremlinParseError."""
    conns = set(re.findall(r"&&|\|\|", body))
    if len(conns) > 1:
        raise GremlinParseError(
            "closure filters support a single connective per closure "
            "(all && or all ||) — split the filter instead"
        )
    col = None
    for part in re.split(r"&&|\|\|", body):
        c = _closure_term_col(part)
        col = c if col is None else (col & c if conns == {"&&"} else col | c)
    return col


class GremlinParseError(ValueError):
    pass


def _parse_args(raw: str) -> list:
    out = []
    for m in _ARG.finditer(raw):
        if m.group(3) is not None:
            v = m.group(3)
            out.append(float(v) if "." in v else int(v))
        else:
            out.append(m.group(1) if m.group(1) is not None else m.group(2))
    return out


def eval_gremlin(infotons: DataFrame, triples: DataFrame, query: str):
    """Evaluate a Gremlin pipe-chain STRING — the front-end the reference
    plugin exposes (GremlinParser.eval feeds the query to the Groovy
    engine over a Blueprints graph; this maps the same chain syntax onto
    the fluent DSL, step for step):

        g.V().has("rdfType", "Order").filter("totalprice", ">", 400000)
         .as("o").out("byCustomer").has("mktsegment", "BUILDING")
         .back("o").paths()

    `filter` takes the declarative (field, op, value) form OR a Groovy-
    closure body for the property-predicate subset —
    `filter{it.totalprice > 400000 && it.orderstatus == "O"}` — compiled
    through a safe grammar (no Groovy evaluation; see _closure_column).
    Closures doing more than property predicates raise. Terminal steps
    (paths/values/count/select/path/toList) return their result; a chain
    without a terminal returns the traversal's path frame."""
    q = query.strip()
    if not (q == "g" or q.startswith("g.")):
        raise GremlinParseError("gremlin query must start at the graph: g.V()...")
    segments = [s for s in _SEG.split(q)[1:] if s.strip()]
    t: GraphTraversal = g(infotons, triples)
    steps = {
        "v": lambda tr, *a: tr.V(*a),
        "V": lambda tr, *a: tr.V(*a),
        "has": lambda tr, *a: tr.has(*a),
        "filter": lambda tr, *a: tr.filter(*a),
        "out": lambda tr, *a: tr.out(*a),
        "in": lambda tr, *a: tr.in_(*a),
        "both": lambda tr, *a: tr.both(*a),
        "loop": lambda tr, n, *lbls: tr.loop(int(n), *lbls),
        "as": lambda tr, name: tr.as_(name),
        "back": lambda tr, name: tr.back(name),
        "dedup": lambda tr: tr.dedup(),
        "order": lambda tr, *a: tr.order(*a),
        "limit": lambda tr, n: tr.limit(int(n)),
        "range": lambda tr, lo, hi: tr.range(int(lo), int(hi)),
        "aggregate": lambda tr, name: tr.aggregate(name),
        "store": lambda tr, name: tr.store(name),
        "except": lambda tr, name: tr.except_(name),
        "retain": lambda tr, name: tr.retain(name),
    }
    terminals = {
        "paths": lambda tr: tr.paths(),
        "toList": lambda tr: tr.paths(),
        "values": lambda tr, f: tr.values(f),
        "count": lambda tr: tr.count(),
        "select": lambda tr, *names: tr.select(*names),
        "path": lambda tr: tr.path(),
        "groupCount": lambda tr, f: tr.group_count(f),
        "cap": lambda tr, name: tr.cap(name),
        "table": lambda tr: tr.table(),
        "tree": lambda tr: tr.tree(),
    }
    for i, seg in enumerate(segments):
        m = _CALL.match(seg)
        if not m:
            raise GremlinParseError(f"cannot parse step {seg!r}")
        name, raw_args, closure = m.group(1), m.group(2), m.group(3)
        # Every step but V()/v() operates on an established frontier; a bare
        # `g` or a chain that never visits V() (e.g. `g.has(...)`) has none —
        # the reference's Groovy engine rejects such pipes too. Raising here
        # keeps the module's error contract (GremlinParseError or a result,
        # never a foreign AttributeError off frontier=None).
        if t.frontier is None and name not in ("v", "V"):
            raise GremlinParseError(
                f"step {name!r} before any V() — the traversal has no frontier"
            )
        if closure is not None:
            if name != "filter":
                raise GremlinParseError(
                    f"closures are supported on filter{{...}} only, not {name!r}"
                )
            t = t.where_(_closure_column(closure))
            continue
        args = _parse_args(raw_args)
        if name in terminals:
            if i != len(segments) - 1:
                raise GremlinParseError(f"terminal step {name!r} must end the chain")
            return terminals[name](t, *args)
        if name not in steps:
            raise GremlinParseError(f"unsupported gremlin step {name!r}")
        t = steps[name](t, *args)
    if t.frontier is None:
        raise GremlinParseError(
            "traversal contains no V() step — nothing to return paths for"
        )
    return t.paths()
