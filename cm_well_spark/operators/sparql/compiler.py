"""SPARQL -> DataFrame compiler over the `triples` EAV table (J4/J5).

This replaces the reference's whole custom apparatus — the Jena stage
generator, per-pattern ES scrolls, and hand-rolled nested-loop substitution
join (JenaArqExtensions.scala:375-519, :151-153) — with DataFrame self-joins
that Catalyst/AQE plan (hash vs broadcast, skew handling).

Kept from the reference (because Catalyst can't know it):
  - greedy BGP ordering by estimated cardinality, const-subject patterns
    first (sortTriplePatternsByAmount, JenaArqExtensionsUtils.scala:187-225;
    our cardinalities come from the lakehouse predicate_stats table instead
    of live count() calls);
  - the error contract: fully-unbound triple patterns are rejected
    (doFindInDftGraph:504-516; SparqlTests.scala:89), unsupported query
    forms are rejected (SpHandler.scala:630-631);
  - the 10k results cap (OpSlice, JenaArqExtensions.scala:591-600).

Term mapping in this engine: subjects are infoton paths (`</tpch/...>`),
predicates are field names (`<inNation>`), objects are lexical values or
paths; numeric comparisons go through the typed `num` shadow column.

OPTIONAL -> left outer join; UNION -> unionByName(allowMissingColumns);
FILTER -> where(); DISTINCT/ORDER/LIMIT map 1:1.
"""

from __future__ import annotations

import itertools
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cm_well_spark.plans.keyset import local_frame
from cm_well_spark.plans.iterative import (
    iter_checkpoint,
    iter_checkpoint_count,
    iter_checkpoint_lazy,
)
from cm_well_spark.operators.sparql.parser import (
    Filter,
    Func,
    Group,
    Iri,
    Literal,
    PathPattern,
    Query,
    SparqlParseError,
    TriplePattern,
    Var,
    parse_sparql,
)

RESULTS_LIMIT = 10_000  # Config.defaultConfig resultsLimit (JenaArqExtensions.scala:311-321)

# User functions admitted for the query being compiled (set by
# sparql_query(custom_fns=...) for the eager compile, then restored).
_CUSTOM_FNS: frozenset[str] = frozenset()
# `p+`/`p*` closures iterate to fixpoint (unbounded, like ARQ); expansion
# stops with a partial-result warning when the reached set exceeds the
# reference's intermediate limit (Config.intermediateLimit, same loc).
INTERMEDIATE_LIMIT = 10_000

_fresh = itertools.count()


class SparqlCompileError(ValueError):
    pass


def _est_cost(tp: TriplePattern, stats: dict | None) -> tuple:
    """Greedy order key: const-subject first (point lookups), then by
    estimated row count of the bound-predicate scan."""
    const_s = 0 if isinstance(tp.s, (Iri, Literal)) else 1
    if isinstance(tp.p, Var):
        est = 10**12  # unbound predicate: full scan — order last
    else:
        est = (stats or {}).get(tp.p.value, {}).get("n", 10**9)
        if not isinstance(tp.o, Var):
            dobj = max(1, (stats or {}).get(tp.p.value, {}).get("dobj", 1))
            est = max(1, est // dobj)
    return (const_s, est)


def _pattern_df(
    triples: DataFrame, tp: TriplePattern, idx: int, gvar: str | None = None
) -> tuple[DataFrame, dict]:
    """One triple pattern -> filtered scan projecting its variables.
    Bound predicate prunes to one `p` partition; bound object hits the
    o-sorted files' min/max. Inside `GRAPH ?g` scope (`gvar`), the quad
    column joins the projection so every pattern binds the graph variable
    and same-group patterns equi-join on it (same-graph semantics)."""
    if isinstance(tp.s, Var) and isinstance(tp.p, Var) and isinstance(tp.o, Var):
        raise SparqlCompileError(
            "fully unbound triple pattern is not allowed (bind at least one of subject/predicate/object)"
        )
    t = triples.where(F.col("current"))
    if not isinstance(tp.p, Var):
        t = t.where(F.col("p") == tp.p.value)
    if not isinstance(tp.s, Var):
        t = t.where(F.col("s") == _term_str(tp.s))
    if not isinstance(tp.o, Var):
        if isinstance(tp.o, Literal) and tp.o.dtype == "number":
            t = t.where(F.col("num") == float(tp.o.value))
        else:
            t = t.where(F.col("o") == _term_str(tp.o))
            if isinstance(tp.o, Literal) and tp.o.lang:
                # "..."@tag matches only same-language triples (RDF term
                # equality; tags compare case-insensitively)
                t = t.where(F.lower(F.col("lang")) == tp.o.lang.lower())
    cols, binds = [], {}
    if isinstance(tp.s, Var):
        cols.append(F.col("s").alias(tp.s.name))
        binds[tp.s.name] = "s"
    if isinstance(tp.p, Var):
        cols.append(F.col("p").alias(tp.p.name))
        binds[tp.p.name] = "p"
    if isinstance(tp.o, Var):
        vt = F.col("vtype") if "vtype" in triples.columns else F.lit(None).cast("string")
        cols.append(F.col("o").alias(tp.o.name))
        cols.append(F.col("num").alias(f"__num__{tp.o.name}"))
        cols.append(F.col("lang").alias(f"__lang__{tp.o.name}"))
        cols.append(vt.alias(f"__vt__{tp.o.name}"))
        binds[tp.o.name] = "o"
    if gvar is not None:
        if gvar in binds:
            # GRAPH ?g { ?g <p> ?o }: the graph var doubles as a pattern
            # var — constrain equality instead of a duplicate projection
            t = t.where(F.col("g") == F.col(binds[gvar]))
        else:
            cols.append(F.col("g").alias(gvar))
            binds[gvar] = "g"
        if not any(isinstance(x, Var) for x in (tp.s, tp.p, tp.o)):
            # fully-constant pattern under GRAPH ?g: binds ?g per matching
            # named graph
            return t.select(F.col("g").alias(gvar)).distinct(), binds
    if not cols:
        # fully-constant pattern: a pure existence gate — limit(1) so the
        # later crossJoin cannot multiply solutions when the same triple
        # exists in several quads (ADVICE r1)
        return t.select(F.lit(1).alias(f"__exists__{idx}")).limit(1), binds
    return t.select(*cols), binds


def _term_str(t) -> str:
    if isinstance(t, Iri):
        return t.value
    if isinstance(t, Literal):
        return t.value
    raise SparqlCompileError(f"not a constant term: {t}")


def _joinable(c: str) -> bool:
    """Shared-variable join eligibility: internal shadow columns are
    skipped, EXCEPT blank-node variables (__bn*) — blank nodes are
    non-projectable but absolutely join across patterns."""
    return not c.startswith("__") or c.startswith("__bn")


def _join(left: DataFrame, right: DataFrame) -> DataFrame:
    shared = [c for c in left.columns if c in right.columns and _joinable(c)]
    if shared:
        # drop duplicate shadow columns from the right side
        dup_shadows = [
            c for c in right.columns if c.startswith(("__num__", "__lang__", "__vt__")) and c in left.columns
        ]
        right = right.drop(*dup_shadows)
        return left.join(right, shared, "inner")
    return left.crossJoin(right)


def _join_connected(dfs: list[DataFrame]) -> DataFrame:
    """Join the pattern frames preferring VARIABLE-CONNECTED pairs: start
    from the first frame, repeatedly pick the next frame (in given cost
    order) that shares a variable with the accumulated solution, and only
    cross join when the pattern graph is genuinely disconnected. A blind
    left-fold cross joins the moment two adjacent frames in cost order
    are disjoint — O(n*m) row blowup that equi joins later would have
    avoided entirely."""
    remaining = list(dfs)
    df = remaining.pop(0)
    while remaining:
        pick = None
        for i, cand in enumerate(remaining):
            if any(c in df.columns and _joinable(c) for c in cand.columns):
                pick = i
                break
        if pick is None:
            pick = 0  # disconnected component: cross join is the semantics
        df = _join(df, remaining.pop(pick))
    return df


def _squash_frame(infotons: DataFrame, subj, tps: list) -> DataFrame:
    """Same-subject pattern group evaluated as ONE doc-table scan.

    The reference's squashBySubject merges a subject's pattern chain into
    a single engine query (JenaArqExtensionsUtils.scala:84-106); here the
    doc table's `fields` map IS the subject-grouped layout, so N patterns
    become N column predicates/extractions on one scan — no self-joins,
    no shuffle. Constant objects filter via exists(); variable objects
    explode their value arrays sequentially (the cartesian of per-field
    value lists is exactly SPARQL's multi-valued solution semantics)."""
    live = infotons.where(F.col("current"))
    if not isinstance(subj, Var):
        live = live.where(F.col("path") == _term_str(subj))
    # factory closures: PySpark HOF lambdas bind by arity, so default-arg
    # captures (lambda v, _n=...) mis-resolve as two-argument lambdas
    def _num_pred(n):
        return lambda v: v["num"] == n

    def _str_pred(s):
        return lambda v: v["value"] == s

    arrs = []
    for i, tp in enumerate(tps):
        vals = F.col("fields").getItem(tp.p.value)
        if isinstance(tp.o, Var):
            live = live.where(vals.isNotNull() & (F.size(vals) > 0))
            arrs.append((i, tp.o.name))
        elif isinstance(tp.o, Literal) and tp.o.dtype == "number":
            live = live.where(
                F.coalesce(F.exists(vals, _num_pred(float(tp.o.value))), F.lit(False))
            )
        else:
            live = live.where(
                F.coalesce(F.exists(vals, _str_pred(_term_str(tp.o))), F.lit(False))
            )
    cols = [F.col("path").alias(subj.name)] if isinstance(subj, Var) else []
    df = live.select(*cols, *[F.col("fields").getItem(tps[i].p.value).alias(f"__sq{i}") for i, _ in arrs])
    for i, vname in arrs:
        ex = F.explode(F.col(f"__sq{i}"))
        if vname in df.columns:
            # same var bound twice in the group: explode then require equality
            df = df.select("*", ex.alias("__sqv")).where(F.col("__sqv")["value"] == F.col(vname)).drop("__sqv", f"__sq{i}")
        else:
            df = (
                df.select("*", ex.alias("__sqv"))
                .withColumn(vname, F.col("__sqv")["value"])
                .withColumn(f"__num__{vname}", F.col("__sqv")["num"])
                .withColumn(f"__lang__{vname}", F.col("__sqv")["lang"])
                .withColumn(f"__vt__{vname}", F.col("__sqv")["vtype"])
                .drop("__sqv", f"__sq{i}")
            )
    return df


def _squash_groups(g_triples: list, infotons: DataFrame | None):
    """Partition patterns into squashable same-subject groups (>=2 patterns,
    all predicates constant) and the remainder."""
    if infotons is None:
        return [], list(g_triples)
    by_subj: dict = {}
    for tp in g_triples:
        key = ("v", tp.s.name) if isinstance(tp.s, Var) else ("c", _term_str(tp.s))
        by_subj.setdefault(key, []).append(tp)
    squashed, rest = [], []
    for _key, tps in by_subj.items():
        # lang-tagged constant objects need the triples table's lang
        # column — the doc-table fields route drops them from squashing
        squashable = (
            len(tps) >= 2
            and all(isinstance(tp.p, Iri) for tp in tps)
            and not any(isinstance(tp.o, Literal) and tp.o.lang for tp in tps)
        )
        if squashable:
            squashed.append((tps[0].s, tps))
        else:
            rest.extend(tps)
    return squashed, rest


def _path_step(
    triples: DataFrame, s_term, elem, o_term, idx: int, gvar: str | None = None
) -> DataFrame:
    """One path element: alternation of (predicate, inverse) pairs as a
    union of pattern frames; an inverse alternative swaps subject/object.
    A negated set `!(p1|p2)` is a single scan filtered to predicates NOT
    in the set (one partition-pruned anti-filter, no union)."""
    if elem.neg:
        t = triples.where(F.col("current")).where(
            ~F.col("p").isin([p.value for p, _ in elem.preds])
        )
        if not isinstance(s_term, Var):
            t = t.where(F.col("s") == _term_str(s_term))
        if not isinstance(o_term, Var):
            t = t.where(F.col("o") == _term_str(o_term))
        cols = []
        if isinstance(s_term, Var):
            cols.append(F.col("s").alias(s_term.name))
        if isinstance(o_term, Var):
            vt = F.col("vtype") if "vtype" in triples.columns else F.lit(None).cast("string")
            cols.append(F.col("o").alias(o_term.name))
            cols.append(F.col("num").alias(f"__num__{o_term.name}"))
            cols.append(F.col("lang").alias(f"__lang__{o_term.name}"))
            cols.append(vt.alias(f"__vt__{o_term.name}"))
        if gvar is not None:
            cols.append(F.col("g").alias(gvar))
        if not cols:
            return t.select(F.lit(1).alias(f"__exists__{idx}")).limit(1)
        return t.select(*cols)
    frames = []
    for p, inverse in elem.preds:
        tp = TriplePattern(o_term, p, s_term) if inverse else TriplePattern(s_term, p, o_term)
        frames.append(_pattern_df(triples, tp, idx, gvar)[0])
    # alternatives can bind different shadow columns (a var in subject
    # position carries no __num__/__lang__); align by name, null-fill
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)


def _path_chain(triples: DataFrame, s, elems: list, o, gvar: str | None = None) -> DataFrame:
    """One fixed-length path-element chain s -e1-> x1 ... -en-> o as
    joined frames; returns only the endpoint variable columns, DISTINCT
    (SPARQL path solutions are sets over the endpoints — intermediate
    nodes must not multiply solutions). Under GRAPH ?g scope the steps
    additionally equi-join on the graph column (a path stays within one
    named graph)."""
    uid = next(_fresh)
    terms = [s] + [Var(f"__pp{uid}_{i}") for i in range(len(elems) - 1)] + [o]
    frames = [
        _path_step(triples, terms[i], elems[i], terms[i + 1], i, gvar) for i in range(len(elems))
    ]
    # chain joins share the __pp vars explicitly (they carry the "__" prefix
    # so generic code ignores them)
    df = frames[0]
    for i in range(1, len(frames)):
        key = f"__pp{uid}_{i - 1}"
        keys = [key] + ([gvar] if gvar is not None else [])
        df = df.join(frames[i], keys, "inner").drop(key)
    keep = [t.name for t in (s, o) if isinstance(t, Var)]
    if gvar is not None:
        keep.append(gvar)
    if not keep:
        return df.select(F.lit(1).alias(f"__exists__path{uid}")).limit(1)
    return df.select(*keep).distinct()


def _zero_length_frame(triples: DataFrame, s, o) -> DataFrame:
    """The zero-length case of `p*`: endpoints bind to the SAME node.
    Var-var pairs every graph node with itself (distinct subjects ∪
    objects — the ARQ node domain); a constant endpoint yields one row."""
    spark = triples.sparkSession
    if isinstance(s, Var) and isinstance(o, Var):
        t = triples.where(F.col("current"))
        nodes = t.select(F.col("s").alias("n")).union(t.select(F.col("o").alias("n"))).distinct()
        return nodes.select(F.col("n").alias(s.name), F.col("n").alias(o.name))
    if isinstance(s, Var):
        return local_frame(spark, [(_term_str(o),)], T.StructType([T.StructField(s.name, T.StringType())]))
    if isinstance(o, Var):
        return local_frame(spark, [(_term_str(s),)], T.StructType([T.StructField(o.name, T.StringType())]))
    uid = next(_fresh)
    if _term_str(s) == _term_str(o):
        return spark.range(1).select(F.lit(1).alias(f"__exists__path{uid}"))
    return spark.range(0).select(F.lit(1).alias(f"__exists__path{uid}"))


def _zero_length_frame_g(triples: DataFrame, s, o, gvar: str) -> DataFrame:
    """Zero-length path solutions inside `GRAPH ?var` scope (SPARQL 1.1
    §13.3 iterates the pattern per named graph): var-var endpoints bind
    to the SAME node of THAT graph's node domain, while a constant
    endpoint yields one row per named graph — mirroring the liberal
    constant behavior of `_zero_length_frame`, just graph-partitioned.
    The reference serves any pattern shape over quads
    (JenaArqExtensions.scala:323-573); this closes the r5 rejection."""
    t = triples.where(F.col("current"))
    graphs = t.select(F.col("g").alias(gvar)).distinct()
    if isinstance(s, Var) and isinstance(o, Var):
        nodes = (
            t.select(F.col("g").alias(gvar), F.col("s").alias("n"))
            .union(t.select(F.col("g").alias(gvar), F.col("o").alias("n")))
            .distinct()
        )
        return nodes.select(gvar, F.col("n").alias(s.name), F.col("n").alias(o.name))
    if isinstance(s, Var):
        return graphs.withColumn(s.name, F.lit(_term_str(o)))
    if isinstance(o, Var):
        return graphs.withColumn(o.name, F.lit(_term_str(s)))
    if _term_str(s) == _term_str(o):
        return graphs
    return graphs.limit(0)


def _closure_frame(triples: DataFrame, pp: PathPattern, gvar: str | None = None) -> DataFrame:
    """`p+` transitive closure by semi-naive fixpoint iteration: frontier
    join + seen-set anti-join + iter_checkpoint per round (local by
    default; CMW_RELIABLE_CHECKPOINTS=1 makes the per-round state
    durable so deep closures survive executor loss — the same
    machinery as traversal.expand_out), replacing the old bounded depth-6
    union — an 8-deep chain now answers completely, like ARQ's unbounded
    closure. Expansion stops with a partial-result warning when the
    reached set exceeds the reference's 10k intermediate limit
    (Config.intermediateLimit, JenaArqExtensions.scala:311-321,:480).

    The predicate-pruned edge relation is persisted (MEMORY_AND_DISK)
    for the duration of the loop: it's the closure's working set — every
    round joins it, and closures run 15+ rounds, so re-scanning the
    parquet per round multiplies the dominant cost by the depth (measured
    ~3x wall on the 15-hop chain). It's one predicate partition, not the
    whole graph, and the disk tier spills rather than OOMs a hot
    predicate at 100 TB; the frontier and reached sets remain the only
    other materialized state."""
    import warnings

    from pyspark import StorageLevel

    uid = next(_fresh)
    a, b, n, m = f"__cl{uid}a", f"__cl{uid}b", f"__cl{uid}n", f"__cl{uid}m"
    gcols = [gvar] if gvar is not None else []
    if len(pp.parts) == 1:
        edges = _path_step(triples, Var(a), pp.parts[0], Var(b), 0, gvar).select(a, b, *gcols)
    else:
        # grouped sequence closure (p1/p2)+: one composite step = the
        # fixed chain, already endpoint-projected + DISTINCT
        edges = _path_chain(triples, Var(a), list(pp.parts), Var(b), gvar)
    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    s_const = not isinstance(pp.s, Var)
    o_const = not isinstance(pp.o, Var)

    def expand(reached: DataFrame, frontier: DataFrame, step_of, total: int) -> DataFrame:
        while total <= INTERMEDIATE_LIMIT:
            # two hops per round (loop unroll): closures run DEEP with tiny
            # frontiers, so wall time is rounds x scheduler latency, not
            # data volume — folding hop 2k+1 into round k halves the round
            # count for one extra lazy edge join inside the same job (the
            # edges are persisted, so it probes cache, not parquet; a
            # 3-hop unroll measured flat — the growing anti-join probe
            # offsets further round savings). Termination on an empty
            # delta stays sound: a frontier fully inside `reached` was
            # already expanded when its nodes were frontier members, so
            # no unseen node can appear past it.
            one = step_of(frontier).distinct()
            frontier = (
                one.unionByName(step_of(one))
                .distinct()
                .join(reached, [c for c in reached.columns], "left_anti")
            )
            # one job per round: the count IS the materialization (r11,
            # iter_checkpoint_count — rounds here are scheduler-latency
            # bound, frontiers are tiny by the intermediate limit)
            frontier, new_n = iter_checkpoint_count(frontier)
            if new_n == 0:
                return reached
            total += new_n
            # re-materialize the reached set every round: the next round's
            # anti-join probes it in full, and closures run deep (15+
            # rounds) with tiny frontiers — a lazy union accumulates
            # quadratic scan work (measured 2-5x wall on the 15-hop
            # chain), while the checkpoint of a near-empty frame is one
            # cheap job. (xg/yg skip this — their accumulator is consumed
            # once per LEVEL and levels are few; see traversal.expand_out.)
            # lazy: the union's blocks materialize inside the NEXT
            # round's count job (or the consumer's action) — plan depth
            # stays bounded, one fewer job per round
            reached = iter_checkpoint_lazy(reached.unionByName(frontier))
        warnings.warn(
            f"property-path closure exceeded the {INTERMEDIATE_LIMIT} intermediate-results"
            " limit; returning partial results (reference contract:"
            " Config.intermediateLimit, JenaArqExtensions.scala:480)",
            RuntimeWarning,
            stacklevel=4,
        )
        return reached

    if s_const or o_const:
        # single-endpoint walk: forward from a constant subject, or
        # backwards (inverse edges) from a constant object. The FIRST step
        # pushes the constant into the (chain) scan — a composite step
        # evaluates as a const-anchored chain, not a filter over all pairs
        if s_const:
            if len(pp.parts) == 1:
                frontier = edges.where(F.col(a) == _term_str(pp.s)).select(F.col(b).alias(n), *gcols)
            else:
                frontier = _path_chain(triples, pp.s, list(pp.parts), Var(n), gvar)

            def step_of(fr):
                return edges.join(fr.withColumnRenamed(n, a), [a] + gcols, "inner").select(
                    F.col(b).alias(n), *gcols
                )

        else:
            if len(pp.parts) == 1:
                frontier = edges.where(F.col(b) == _term_str(pp.o)).select(F.col(a).alias(n), *gcols)
            else:
                frontier = _path_chain(triples, Var(n), list(pp.parts), pp.o, gvar)

            def step_of(fr):
                return edges.join(fr.withColumnRenamed(n, b), [b] + gcols, "inner").select(
                    F.col(a).alias(n), *gcols
                )

        frontier, n0 = iter_checkpoint_count(frontier.distinct())
        reached = expand(frontier, frontier, step_of, n0)
        # reached is materialized — nothing downstream re-reads edges
        edges.unpersist()
        if s_const and o_const:
            gate = reached.where(F.col(n) == _term_str(pp.o))
            if gvar is not None:
                return gate.select(gvar).distinct()
            return gate.select(F.lit(1).alias(f"__exists__path{uid}")).limit(1)
        endpoint = pp.o.name if s_const else pp.s.name
        return reached.select(F.col(n).alias(endpoint), *gcols)
    # var-var: full closure of the (pruned) edge relation — depth-1 pairs
    # seed the reached set; each round extends the newest pairs by one edge
    reached, n0 = iter_checkpoint_count(edges.distinct())

    def step_pairs(fr):
        f2 = fr.select(F.col(a), F.col(b).alias(m), *gcols)
        e2 = edges.select(F.col(a).alias(m), F.col(b), *gcols)
        return f2.join(e2, [m] + gcols, "inner").select(a, b, *gcols)

    reached = expand(reached, reached, step_pairs, n0)
    edges.unpersist()
    return reached.select(F.col(a).alias(pp.s.name), F.col(b).alias(pp.o.name), *gcols)


def _path_frame(triples: DataFrame, pp: PathPattern, gvar: str | None = None) -> DataFrame:
    """Sequence path = one chain; `p+` / `p*` = iterative fixpoint closure
    (`*` adding the zero-length identity); `p?` = identity ∪ one step."""
    def zero():
        if gvar is None:
            return _zero_length_frame(triples, pp.s, pp.o)
        return _zero_length_frame_g(triples, pp.s, pp.o, gvar)

    if pp.opt:
        one = _path_chain(triples, pp.s, list(pp.parts), pp.o, gvar)
        return zero().unionByName(one, allowMissingColumns=True).distinct()
    if not (pp.plus or pp.star):
        return _path_chain(triples, pp.s, list(pp.parts), pp.o, gvar)
    closure = _closure_frame(triples, pp, gvar)
    if pp.star:
        return zero().unionByName(closure, allowMissingColumns=True).distinct()
    return closure


def _compile_group(
    triples: DataFrame,
    g: Group,
    stats: dict | None,
    infotons: DataFrame | None = None,
    gvar: str | None = None,
    in_graph: bool = False,
    named_source: DataFrame | None = None,
) -> DataFrame:
    # squash-by-subject (JenaArqExtensionsUtils.scala:84-106): same-subject
    # const-predicate groups route to ONE doc-table scan; singletons and
    # var-predicate patterns stay on the pruned triples scans. Squashed
    # frames take their place in the SAME greedy cardinality order as the
    # singleton patterns, estimated at the min of their member predicates
    # (a same-subject conjunction can't exceed its cheapest member) — the
    # r6 "squash joins first" rule mis-ordered fact-subject squashes: the
    # 6-pattern revenue BGP put the 6M-row lineitem squash FIRST and
    # dragged it through every join (4 full re-shuffles of the fact
    # relation at sf1, 7.7 s exec); cost-merged it joins LAST into a
    # small accumulated dim chain (r11, guide §3). GRAPH ?var scope
    # disables the squash route: the doc-table fields route can't bind
    # the per-value quad.
    groups, rest = _squash_groups(g.triples, None if gvar is not None else infotons)
    patterns = sorted(rest, key=lambda tp: _est_cost(tp, stats))

    def _squash_cost(subj, tps) -> tuple:
        const_s = 0 if isinstance(subj, (Iri, Literal)) else 1
        return (const_s, min(_est_cost(tp, stats)[1] for tp in tps))

    frames = [(_squash_cost(subj, tps), _squash_frame(infotons, subj, tps)) for subj, tps in groups]
    frames.extend(
        (_est_cost(tp, stats), _pattern_df(triples, tp, i, gvar)[0])
        for i, tp in enumerate(patterns)
    )
    frames.sort(key=lambda kv: kv[0])
    dfs = [df for _, df in frames]
    dfs.extend(_path_frame(triples, pp, gvar) for pp in g.paths)
    # nested sub-SELECTs evaluate bottom-up to a solution frame (their own
    # aggregates/DISTINCT/LIMIT applied, no implicit cap) and join on
    # shared projected variables (SPARQL 1.1 §12). Under GRAPH ?var scope
    # the subquery evaluates PER GRAPH (§13.3.2): the graph var threads
    # through as a hidden group key / projection column so the output
    # stays graph-correlated, and LIMIT/OFFSET slice per graph.
    dfs.extend(
        _select_frame(
            triples, sq, stats, infotons if gvar is None else None,
            limit_cap=0, gvar=gvar, named_source=named_source,
        )
        for sq in g.subqueries
    )
    # GRAPH <iri> { ... }: the scoped pattern compiles against the quads of
    # that one named graph (a `g ==` filter the parquet scan pushes down).
    # GRAPH ?var { ... }: scoped to tagged quads, with ?var bound from the
    # quad column in every enclosed pattern — patterns equi-join on it, so
    # one solution stays within one named graph (SPARQL 1.1 §13.3; the
    # reference's _sp path gets this from Jena ARQ over the fetched quad
    # dataset, while its whole-graph engine maps named-graph lookups to the
    # union graph — JenaArqExtensions.scala:361-364; our DEFAULT graph is
    # that union, so non-GRAPH patterns keep the reference's semantics).
    # Nested GRAPH (GRAPH inside GRAPH, §13.3): the inner clause simply
    # re-scopes to ITS graph term against the full named source — an
    # inner constant overrides the outer binding for the inner patterns
    # (which then carry no outer-var column and correlate with siblings
    # only through shared solution vars), an inner variable binds its own
    # var per quad. `named_source` threads the UNSCOPED quad frame down
    # so re-scoping never compounds the outer filter.
    ns = named_source if named_source is not None else triples
    for gterm, inner in g.graphs:
        if isinstance(gterm, Iri):
            scoped = ns.where(F.col("g") == gterm.value)
            dfs.append(_compile_group(scoped, inner, stats, None, in_graph=True, named_source=ns))
        else:
            scoped = ns.where(F.col("g").isNotNull())
            dfs.append(
                _compile_group(scoped, inner, stats, None, gvar=gterm.name, in_graph=True, named_source=ns)
            )
    if dfs:
        df = _join_connected(dfs)
    else:
        df = None
    for branches in g.unions:
        parts = [_compile_group(triples, b, stats, infotons, gvar, in_graph, named_source) for b in branches]
        u = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)
        df = u if df is None else _join(df, u)
    for vars_, rows in g.values:
        spark = triples.sparkSession
        names = [v.name for v in vars_]
        vdf = local_frame(spark, rows, T.StructType([T.StructField(n, T.StringType()) for n in names]))
        # inline data is small by construction: broadcast
        if df is None:
            if any(cell is None for row in rows for cell in row):
                raise SparqlCompileError("VALUES with UNDEF needs a pattern to join against")
            df = F.broadcast(vdf)
        elif any(cell is None for row in rows for cell in row):
            # UNDEF cells are wildcards: null-safe OR-equality per var —
            # a broadcast theta semi join over the tiny inline table. The
            # vars must already be bound by the pattern (an UNDEF row
            # cannot introduce a per-row-unbound column).
            unbound = [n for n in names if n not in df.columns]
            if unbound:
                raise SparqlCompileError(
                    f"VALUES with UNDEF requires pattern-bound variables (unbound: {unbound})"
                )
            renamed = vdf
            for n in names:
                renamed = renamed.withColumnRenamed(n, f"__val_{n}")
            cond = F.lit(True)
            for n in names:
                cond = cond & (F.col(f"__val_{n}").isNull() | (F.col(f"__val_{n}") == F.col(n)))
            df = df.join(F.broadcast(renamed), cond, "left_semi")
        else:
            df = _join(df, F.broadcast(vdf))
    if df is None:
        raise SparqlCompileError("empty graph pattern")
    if gvar is not None and gvar not in df.columns:
        # the group bound no quad pattern of its own (e.g. only a nested
        # constant GRAPH): per §13.3 the outer var still iterates every
        # named graph — cross with the tiny graph-name domain
        dom = triples.select(F.col("g").alias(gvar)).where(F.col(gvar).isNotNull()).distinct()
        df = df.crossJoin(F.broadcast(dom))
    for opt in g.optionals:
        right = _compile_group(triples, opt, stats, infotons, gvar, in_graph, named_source)
        shared = [c for c in df.columns if c in right.columns and not c.startswith("__")]
        right = right.drop(
            *[c for c in right.columns if c.startswith(("__num__", "__lang__", "__vt__")) and c in df.columns]
        )
        df = df.join(right, shared, "left") if shared else df.crossJoin(right)
    for v, e in g.binds:
        col, numeric = _value_col(e, df)
        df = df.withColumn(v.name, col.cast("string"))
        if numeric:
            df = df.withColumn(f"__num__{v.name}", col.cast("double"))
    for flt in g.filters:
        df = df.where(_filter_col(flt, df))
    for grp, negated in g.exists:
        # FILTER [NOT] EXISTS: pattern-existence against the current
        # solution — a semi/anti join on the shared variables (the inner
        # group sees the outer bindings through the join keys). With no
        # shared variables the inner pattern is an independent gate:
        # broadcast its limit(1) existence row, keep/drop all solutions.
        right = _compile_group(triples, grp, stats, infotons, gvar, in_graph, named_source)
        shared = [c for c in df.columns if c in right.columns and not c.startswith("__")]
        if shared:
            how = "left_anti" if negated else "left_semi"
            df = df.join(right.select(*shared).distinct(), shared, how)
        else:
            gate = F.broadcast(right.select(F.lit(1).alias("__e")).limit(1))
            df = df.join(gate, F.lit(True), "left")
            df = df.where(F.col("__e").isNull() if negated else F.col("__e").isNotNull()).drop("__e")
    for m in g.minuses:
        right = _compile_group(triples, m, stats, infotons, gvar, in_graph, named_source)
        shared = [c for c in df.columns if c in right.columns and not c.startswith("__")]
        # SPARQL MINUS: remove solutions compatible on >=1 shared var;
        # disjoint domains remove nothing (W3C SPARQL 1.1 §8.3)
        if shared:
            df = df.join(right.select(*shared).distinct(), shared, "left_anti")
    return df


def _value_col(e, df: DataFrame) -> tuple[Column, bool]:
    """Evaluate a value expression (Term or builtin Func) to a Column;
    second element = 'numeric-valued'. Every builtin maps to a native
    Catalyst expression — no UDFs in the filter path."""
    if isinstance(e, Var):
        return F.col(e.name), False
    if isinstance(e, Literal):
        if e.dtype == "number":
            return F.lit(float(e.value)), True
        return F.lit(e.value), False
    if isinstance(e, Iri):
        return F.lit(e.value), False
    from cm_well_spark.operators.sparql.parser import AggExpr as _AggExpr

    if isinstance(e, _AggExpr):
        # inline HAVING aggregate: the aggregation step projected it
        # under its hidden alias
        return F.col(e.alias), True
    if isinstance(e, Func):
        if e.fn == "if":
            # first arg is a boolean expression, not a value
            cond = _filter_col(e.args[0], df)
            t_col, t_num = _value_col(e.args[1], df)
            f_col, f_num = _value_col(e.args[2], df)
            return F.when(cond, t_col).otherwise(f_col), t_num and f_num
        args = [_value_col(a, df) for a in e.args]

        def num(i: int) -> Column:
            a = e.args[i]
            if isinstance(a, Var):
                shadow = f"__num__{a.name}"
                return F.col(shadow) if shadow in df.columns else F.col(a.name).cast("double")
            return args[i][0].cast("double")

        if e.fn in ("+", "-", "*", "/"):
            # SPARQL 1.1 §17.3 numeric operators — typed num shadows, so
            # "5"^^xsd:double * lexical never string-compares
            ops = {"+": "__add__", "-": "__sub__", "*": "__mul__", "/": "__truediv__"}
            return getattr(num(0), ops[e.fn])(num(1)), True
        if e.fn == "str":
            return args[0][0].cast("string"), False
        if e.fn == "lang":
            a = e.args[0]
            if isinstance(a, Var) and f"__lang__{a.name}" in df.columns:
                return F.coalesce(F.col(f"__lang__{a.name}"), F.lit("")), False
            return F.lit(""), False
        if e.fn == "strlen":
            return F.length(args[0][0].cast("string")).cast("double"), True
        if e.fn == "ucase":
            return F.upper(args[0][0].cast("string")), False
        if e.fn == "lcase":
            return F.lower(args[0][0].cast("string")), False
        if e.fn == "abs":
            return F.abs(num(0)), True
        if e.fn == "ceil":
            return F.ceil(num(0)).cast("double"), True
        if e.fn == "floor":
            return F.floor(num(0)).cast("double"), True
        if e.fn == "round":
            return F.round(num(0), 0), True
        if e.fn == "concat":
            return F.concat(*[a[0].cast("string") for a in args]), False
        if e.fn in ("strbefore", "strafter"):
            s = args[0][0].cast("string")
            sub = args[1][0].cast("string")
            pos = F.call_function("instr", s, sub)
            if e.fn == "strbefore":
                col = F.when(pos > 0, F.call_function("substr", s, F.lit(1), pos - 1)).otherwise(F.lit(""))
            else:
                col = F.when(
                    pos > 0, F.call_function("substr", s, pos + F.length(sub))
                ).otherwise(F.lit(""))
            return col, False
        if e.fn == "substr":
            s = args[0][0].cast("string")
            start = args[1][0].cast("int")
            if len(args) > 2:
                return F.call_function("substr", s, start, args[2][0].cast("int")), False
            return F.call_function("substr", s, start), False
        if e.fn == "replace":
            # SPARQL REPLACE is regex-based (XPath fn:replace)
            return (
                F.regexp_replace(args[0][0].cast("string"), args[1][0].cast("string"), args[2][0].cast("string")),
                False,
            )
        if e.fn == "coalesce":
            return F.coalesce(*[a[0] for a in args]), all(a[1] for a in args)
        if e.fn == "md5":
            return F.md5(args[0][0].cast("string")), False
        if e.fn == "sha1":
            return F.sha1(args[0][0].cast("string")), False
        if e.fn == "sha256":
            return F.sha2(args[0][0].cast("string"), 256), False
        if e.fn == "encode_for_uri":
            # percent-encode everything outside RFC 3986 unreserved
            return F.url_encode(args[0][0].cast("string")), False
        if e.fn in ("year", "month", "day", "hours", "minutes", "seconds"):
            # xsd:dateTime accessors (SPARQL 1.1 §17.4.5): values carry the
            # canonical ISO lexical form, so parse at the use site — no
            # per-var timestamp shadow column needed
            ts = F.to_timestamp(args[0][0].cast("string"))
            fns = {"year": F.year, "month": F.month, "day": F.dayofmonth,
                   "hours": F.hour, "minutes": F.minute, "seconds": F.second}
            return fns[e.fn](ts).cast("int"), True
        if e.fn == "tz":
            # engine stores UTC canonical forms; TZ is "Z" for any
            # date-typed lexical value, "" otherwise (§17.4.5.7)
            s = args[0][0].cast("string")
            return F.when(s.endswith("Z"), F.lit("Z")).otherwise(F.lit("")), False
        if e.fn == "datatype":
            a = e.args[0]
            if isinstance(a, Var) and f"__vt__{a.name}" in df.columns:
                vt = F.col(f"__vt__{a.name}")
                lang = (
                    F.col(f"__lang__{a.name}")
                    if f"__lang__{a.name}" in df.columns
                    else F.lit(None)
                )
                xsd = "http://www.w3.org/2001/XMLSchema#"
                return (
                    F.when(lang.isNotNull(),
                           F.lit("http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"))
                    .when(vt == "i", F.lit(xsd + "int"))
                    .when(vt == "l", F.lit(xsd + "long"))
                    .when(vt == "f", F.lit(xsd + "float"))
                    .when(vt == "w", F.lit(xsd + "double"))
                    .when(vt == "d", F.lit(xsd + "dateTime"))
                    .when(vt == "b", F.lit(xsd + "boolean"))
                    .otherwise(F.lit(xsd + "string"))
                ), False
            # BIND-derived values: numeric shadow -> double, else string
            num_shadow = f"__num__{a.name}" if isinstance(a, Var) else None
            if num_shadow and num_shadow in df.columns:
                return F.when(
                    F.col(num_shadow).isNotNull(),
                    F.lit("http://www.w3.org/2001/XMLSchema#double"),
                ).otherwise(F.lit("http://www.w3.org/2001/XMLSchema#string")), False
            return F.lit("http://www.w3.org/2001/XMLSchema#string"), False
        if e.fn in ("iri", "uri"):
            # terms are strings in this engine (subjects = infoton paths);
            # IRI() is the identity on the lexical form
            return args[0][0].cast("string"), False
        if e.fn == "now":
            # SPARQL 1.1 §17.4.5.1: one fixed value for the whole query —
            # Spark's current_timestamp() is exactly query-constant
            return F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss'Z'"), False
        if e.fn == "uuid":
            return F.concat(F.lit("urn:uuid:"), F.expr("uuid()")), False
        if e.fn == "struuid":
            return F.expr("uuid()"), False
        if e.fn == "rand":
            return F.rand(), True
        if e.fn.startswith("udf:xsd$"):
            # SPARQL 1.1 §17.5 XSD constructor functions -> native casts.
            # Numeric constructors go through the typed shadow (num())
            # when the arg is a variable, so "5"^^xsd:double never
            # string-casts; invalid lexical forms yield NULL (unbound),
            # matching Jena's error->unbound expression semantics.
            local = e.fn[len("udf:xsd$"):]
            if local in ("integer", "int", "long", "short", "byte",
                         "nonNegativeInteger", "positiveInteger"):
                # long (not double) so BIND's lexical projection renders
                # "3", while the __num__ shadow still gets a double;
                # fractional input truncates toward zero (Spark cast —
                # documented divergence from XSD's lexical-space error)
                return num(0).cast("long"), True
            if local in ("double", "float", "decimal"):
                return num(0), True
            if local == "string":
                return args[0][0].cast("string"), False
            if local == "boolean":
                s = args[0][0].cast("string")
                return (
                    F.when(s.isin("true", "1"), F.lit(True))
                    .when(s.isin("false", "0"), F.lit(False))
                    .otherwise(F.lit(None).cast("boolean"))
                ), False
            if local in ("dateTime", "date"):
                ts = F.to_timestamp(args[0][0].cast("string"))
                if local == "date":
                    return F.date_format(ts, "yyyy-MM-dd"), False
                return F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'"), False
            raise SparqlCompileError(
                f"unsupported XSD constructor xsd:{local}"
            )
        if e.fn.startswith("udf:"):
            # user function (Jena FunctionRegistry analog): the parser
            # resolved the call head to a local name; it must have been
            # admitted for this query (sparql_query(custom_fns=...) /
            # an _sp jar import) and be registered in the Spark session.
            name = e.fn[4:]
            if name not in _CUSTOM_FNS:
                raise SparqlCompileError(
                    f"unknown function {name!r}: not a SPARQL builtin and not an "
                    "admitted user function (register it via FunctionRegistry and "
                    "pass custom_fns= or an _sp jar/scala import)"
                )
            return F.call_function(name, *[a[0].cast("string") for a in args]), False
    raise SparqlCompileError(f"unsupported value expression {e!r}")


def _is_iri_col(col: Column) -> Column:
    """Model mapping for isIRI/isURI: IRIs are infoton paths (`/...`) or
    absolute http(s) URIs — FReference values, Infoton.scala:672."""
    return col.rlike(r"^(/|https?://)")


def _filter_col(f: Filter, df: DataFrame) -> Column:
    if f.op == "&&":
        return _filter_col(f.args[0], df) & _filter_col(f.args[1], df)
    if f.op == "||":
        return _filter_col(f.args[0], df) | _filter_col(f.args[1], df)
    if f.op == "!":
        return ~_filter_col(f.args[0], df)
    if f.op == "regex":
        v, pat, flags = f.args
        col = _value_col(v, df)[0].cast("string")
        rx = pat.value
        if flags is not None and "i" in flags.value:
            rx = "(?i)" + rx
        return col.rlike(rx)
    if f.op in ("contains", "strstarts", "strends"):
        hay = _value_col(f.args[0], df)[0].cast("string")
        needle = _value_col(f.args[1], df)[0].cast("string")
        if f.op == "contains":
            return hay.contains(needle)
        if f.op == "strstarts":
            return hay.startswith(needle)
        return hay.endswith(needle)
    if f.op == "langmatches":
        # LANGMATCHES(LANG(?v), "range"): case-insensitive; "*" matches any
        # non-empty tag; a bare primary range matches its subtags ("en"
        # matches "en-US") — RFC 4647 basic filtering
        tag = F.lower(_value_col(f.args[0], df)[0].cast("string"))
        rng = F.lower(_value_col(f.args[1], df)[0].cast("string"))
        return F.when(rng == "*", tag != "").otherwise(
            (tag == rng) | tag.startswith(F.concat(rng, F.lit("-")))
        )
    if f.op == "bound":
        a = f.args[0]
        if not isinstance(a, Var):
            raise SparqlCompileError("BOUND needs a variable")
        return F.col(a.name).isNotNull() if a.name in df.columns else F.lit(False)
    if f.op in ("isiri", "isuri"):
        return _is_iri_col(_value_col(f.args[0], df)[0].cast("string"))
    if f.op == "isliteral":
        return ~_is_iri_col(_value_col(f.args[0], df)[0].cast("string"))
    if f.op == "isnumeric":
        a = f.args[0]
        if isinstance(a, Var) and f"__num__{a.name}" in df.columns:
            return F.col(f"__num__{a.name}").isNotNull()
        return _value_col(a, df)[0].cast("double").isNotNull()
    if f.op == "isblank":
        return F.lit(False)  # the infoton model has no blank nodes
    if f.op == "sameterm":
        # plain (null-propagating) equality: sameTerm on an unbound
        # argument is a SPARQL type error, so the FILTER must drop the
        # row — eqNullSafe would make two OPTIONAL-produced nulls
        # spuriously compare TRUE
        lhs = _value_col(f.args[0], df)[0].cast("string")
        rhs = _value_col(f.args[1], df)[0].cast("string")
        return lhs == rhs
    if f.op in ("in", "not_in"):
        expr, vals = f.args
        numeric = all(isinstance(v, Literal) and v.dtype == "number" for v in vals)
        if numeric and isinstance(expr, Var) and f"__num__{expr.name}" in df.columns:
            col = F.col(f"__num__{expr.name}")
            items = [float(v.value) for v in vals]
        else:
            col = _value_col(expr, df)[0].cast("string")
            items = [_term_str(v) for v in vals]
        cond = col.isin(items)
        return ~cond if f.op == "not_in" else cond
    left, right = f.args
    ops = {"=": "__eq__", "!=": "__ne__", "<": "__lt__", "<=": "__le__", ">": "__gt__", ">=": "__ge__"}
    py = ops[f.op]
    lcol, lnum = _value_col(left, df)
    rcol, rnum = _value_col(right, df)
    if lnum or rnum:
        # numeric context: plain Vars compare through their typed shadow
        if isinstance(left, Var):
            shadow = f"__num__{left.name}"
            lcol = F.col(shadow) if shadow in df.columns else F.col(left.name).cast("double")
        elif not lnum:
            lcol = lcol.cast("double")
        if isinstance(right, Var):
            shadow = f"__num__{right.name}"
            rcol = F.col(shadow) if shadow in df.columns else F.col(right.name).cast("double")
        elif not rnum:
            rcol = rcol.cast("double")
    return getattr(lcol, py)(rcol)


def _apply_slice(df: DataFrame, q: Query, limit_cap: int) -> DataFrame:
    cap = limit_cap
    if q.limit is not None:
        cap = min(q.limit, limit_cap) if limit_cap else q.limit
    if q.offset:
        # deterministic slice needs an order; default to the first column
        # when the query gave none (matches the prior contract)
        if not q.order_by:
            df = df.orderBy(F.col(df.columns[0]).asc())
        # native offset: orderBy+offset+limit is one TakeOrderedAndProject
        df = df.offset(q.offset)
    if cap:
        df = df.limit(cap)
    return df



def _dataset_frames(triples: DataFrame, q: Query):
    """FROM / FROM NAMED dataset construction (SPARQL 1.1 §13.2): when any
    dataset clause is present, the dataset is EXACTLY what's listed — the
    FROM graphs merge into the default graph, FROM NAMED lists the only
    graphs a GRAPH clause can address, and a side omitted from the
    clauses is EMPTY (spec-faithful: FROM-only queries see no named
    graphs; FROM NAMED-only queries have an empty default graph). The
    `g isin` filters push to the parquet scan like any quad filter."""
    if not q.from_default and not q.from_named:
        return triples, None
    if q.from_default:
        src = triples.where(F.col("g").isin(q.from_default))
    else:
        src = triples.where(F.lit(False))
    if q.from_named:
        named = triples.where(F.col("g").isin(q.from_named))
    else:
        named = triples.where(F.lit(False))
    return src, named

def _select_frame(
    triples: DataFrame,
    q: Query,
    stats: dict | None,
    infotons: DataFrame | None,
    limit_cap: int,
    gvar: str | None = None,
    named_source: DataFrame | None = None,
) -> DataFrame:
    """SELECT form -> projected solution frame, with aggregates / HAVING /
    DISTINCT / ORDER / OFFSET / LIMIT applied. Subqueries call this with
    limit_cap=0 (no implicit cap — only an explicit inner LIMIT slices).
    `gvar` = enclosing `GRAPH ?var` scope (sub-SELECT under GRAPH,
    §13.3.2): the graph var is carried as a hidden group key / projected
    column so the subquery's solutions stay per-graph, and LIMIT/OFFSET
    become per-graph slices."""
    from cm_well_spark.operators.sparql.parser import AggExpr, ExprProj

    src, named = _dataset_frames(triples, q)
    # the doc-table squash route ignores quads — disable it under an
    # explicit dataset clause or GRAPH ?var scope
    df = _compile_group(
        src, q.where, stats,
        infotons if (named is None and gvar is None) else None,
        gvar=gvar,
        named_source=named if named is not None else named_source,
    )
    aggs = [v for v in q.variables if isinstance(v, AggExpr)]
    exprs = [v for v in q.variables if isinstance(v, ExprProj)]

    def _collect_having_aggs(node, out):
        if isinstance(node, AggExpr):
            out.append(node)
            return
        if isinstance(node, (Filter, Func)):
            for a in node.args:
                if isinstance(a, tuple):
                    for x in a:
                        _collect_having_aggs(x, out)
                else:
                    _collect_having_aggs(a, out)

    having_aggs: list = []
    for h in q.having:
        _collect_having_aggs(h, having_aggs)
    if aggs or q.group_by or having_aggs:
        # SPARQL 1.1 aggregates -> groupBy + agg (partial+final hash agg
        # via Catalyst); numeric aggs use the typed num shadow column.
        # Aggregate arguments may be full expressions (SUM(?a * ?b)).
        def agg_arg_num(a: AggExpr) -> Column:
            if isinstance(a.var, Var):
                shadow = f"__num__{a.var.name}"
                return F.col(shadow) if shadow in df.columns else F.col(a.var.name).cast("double")
            return _value_col(a.var, df)[0].cast("double")

        def agg_arg_str(a: AggExpr) -> Column:
            if isinstance(a.var, Var):
                return F.col(a.var.name)
            return _value_col(a.var, df)[0].cast("string")

        def agg_col(a: AggExpr) -> Column:
            if a.fn == "count":
                if a.var is None:
                    c = F.count("*")
                elif a.distinct:
                    c = F.count_distinct(agg_arg_str(a))
                else:
                    c = F.count(agg_arg_str(a))
                return c.alias(a.alias)
            if a.fn == "group_concat":
                src = agg_arg_str(a)
                vals = F.collect_set(src) if a.distinct else F.collect_list(src)
                # sorted for a deterministic result (SPARQL leaves the
                # order implementation-defined; sorted is oracle-checkable)
                return F.concat_ws(a.sep, F.array_sort(vals)).alias(a.alias)
            if a.fn == "sample":
                # SAMPLE is implementation-defined: deterministic min
                return F.min(agg_arg_str(a)).alias(a.alias)
            if a.fn in ("min", "max") and isinstance(a.var, Var):
                # MIN/MAX are TERM aggregates, not numeric ones: order
                # numerics numerically (via the typed shadow), strings
                # lexically after them, and return the winning term's
                # LEXICAL form — so MIN(?name) over strings works and
                # MIN(?price) still orders numerically
                name = a.var.name
                shadow = f"__num__{name}"
                if shadow in df.columns:
                    ordk = F.struct(
                        F.col(shadow).isNull().alias("t"),
                        F.col(shadow).alias("n"),
                        F.col(name).alias("v"),
                    )
                else:
                    ordk = F.col(name)
                fn = F.min_by if a.fn == "min" else F.max_by
                return fn(F.col(name), ordk).alias(a.alias)
            fns = {"sum": F.sum, "avg": F.avg, "min": F.min, "max": F.max}
            return fns[a.fn](agg_arg_num(a)).alias(a.alias)

        # computed group keys — GROUP BY (expr AS ?alias) — bind before
        # the aggregation so they group and project like plain vars
        for k in q.group_by:
            if isinstance(k, ExprProj):
                kcol, knum = _value_col(k.expr, df)
                df = df.withColumn(k.alias, kcol.cast("string") if not knum else kcol)
        keys = [k.name if isinstance(k, Var) else k.alias for k in q.group_by]
        plain = [v.name for v in q.variables if isinstance(v, Var)]
        missing_keys = [v for v in plain if v not in keys]
        if missing_keys:
            raise SparqlCompileError(
                f"non-aggregated SELECT variables must appear in GROUP BY: {missing_keys}"
            )
        if gvar is not None and gvar not in keys:
            # hidden per-graph group key (sub-SELECT under GRAPH ?var)
            keys.append(gvar)
        gdf = df.groupBy(*keys) if keys else df.groupBy()
        all_aggs = aggs + having_aggs
        df = gdf.agg(*[agg_col(a) for a in all_aggs]) if all_aggs else gdf.agg(F.count("*").alias("__n")).drop("__n")
        for h in q.having:
            # post-aggregation filter over projected aggregate aliases
            df = df.where(_filter_col(h, df))
        # projection expressions evaluate over the aggregated frame (group
        # keys + aggregate aliases), e.g. (?revenue / ?n AS ?avg_item)
        for ep in exprs:
            df = df.withColumn(ep.alias, _value_col(ep.expr, df)[0])
        proj = [v.name if isinstance(v, Var) else v.alias for v in q.variables]
        if gvar is not None and gvar not in proj:
            proj.append(gvar)
        df = df.select(*proj)
        # falls through to the shared DISTINCT/ORDER/OFFSET/cap logic
        # (ADVICE r1: the early return here bypassed the 10k OpSlice cap)
    elif q.having:
        raise SparqlCompileError("HAVING requires aggregation (GROUP BY or aggregate projections)")
    elif q.variables:
        # non-aggregate projection expressions evaluate like BINDs
        for ep in exprs:
            df = df.withColumn(ep.alias, _value_col(ep.expr, df)[0])
        names = [v.name if isinstance(v, Var) else v.alias for v in q.variables]
        missing = [n for n in names if n not in df.columns]
        if missing:
            raise SparqlCompileError(f"SELECT variables not bound in pattern: {missing}")
        if gvar is not None and gvar not in names:
            names.append(gvar)
        df = df.select(*names)
    else:
        df = df.select(*[c for c in df.columns if not c.startswith("__")])
    if q.distinct:
        df = df.distinct()
    if gvar is not None:
        # sub-SELECT under GRAPH ?var: LIMIT/OFFSET slice PER GRAPH
        # (§13.3.2 evaluates the subquery once per named graph) — a
        # row_number window partitioned by the graph var; the subframe's
        # global ordering is irrelevant to the enclosing join
        if q.limit is not None or q.offset:
            from pyspark.sql.window import Window

            okeys = []
            for v, d in q.order_by:
                c = F.col(v.name) if isinstance(v, Var) else _value_col(v, df)[0]
                okeys.append(c.desc() if d else c.asc())
            if not okeys:
                first = next(c for c in df.columns if c != gvar)
                okeys = [F.col(first).asc()]
            w = Window.partitionBy(gvar).orderBy(*okeys)
            df = df.withColumn("__rn", F.row_number().over(w))
            lo = q.offset or 0
            df = df.where(F.col("__rn") > lo)
            if q.limit is not None:
                df = df.where(F.col("__rn") <= lo + q.limit)
            df = df.drop("__rn")
        return df.limit(limit_cap) if limit_cap else df
    if q.order_by:
        # order keys may be expressions over the projected columns
        # (ORDER BY DESC(STRLEN(?n))); plain vars stay column refs
        keys = []
        for v, d in q.order_by:
            c = F.col(v.name) if isinstance(v, Var) else _value_col(v, df)[0]
            keys.append(c.desc() if d else c.asc())
        df = df.orderBy(*keys)
    return _apply_slice(df, q, limit_cap)


def sparql_query(
    triples: DataFrame,
    query: str | Query,
    stats: dict | None = None,
    limit_cap: int = RESULTS_LIMIT,
    infotons: DataFrame | None = None,
    custom_fns: set[str] | None = None,
) -> DataFrame:
    """Compile + plan a SPARQL query over the triples table.

    SELECT -> DataFrame of the projected variable columns.
    CONSTRUCT -> DataFrame(s, p, o) of instantiated template triples.

    `infotons` (the wide doc table) enables the squash-by-subject route:
    same-subject constant-predicate pattern groups evaluate as one
    doc-table scan instead of N triples self-joins.

    `custom_fns` admits user-function names (session-registered Spark
    UDFs) callable inside FILTER/BIND — the Jena FunctionRegistry arc
    (SpHandler.scala:525-548). Compilation is eager, so the admission
    set only needs to live for the duration of this call.
    """
    global _CUSTOM_FNS
    q = parse_sparql(query) if isinstance(query, str) else query
    prev = _CUSTOM_FNS
    _CUSTOM_FNS = frozenset(custom_fns or ())
    try:
        if q.form == "select":
            return _select_frame(triples, q, stats, infotons, limit_cap)
        # construct
        src, named = _dataset_frames(triples, q)
        sols = _compile_group(
            src, q.where, stats, infotons if named is None else None, named_source=named
        )
        parts = []
        for tp in q.template:
            def col_of(term):
                if isinstance(term, Var):
                    if term.name not in sols.columns:
                        raise SparqlCompileError(f"CONSTRUCT variable ?{term.name} not bound")
                    return F.col(term.name).cast("string")
                return F.lit(_term_str(term))

            parts.append(sols.select(col_of(tp.s).alias("s"), col_of(tp.p).alias("p"), col_of(tp.o).alias("o")))
        df = reduce(lambda a, b: a.unionByName(b), parts).distinct()
        return _apply_slice(df, q, limit_cap)
    finally:
        _CUSTOM_FNS = prev


def sparql_explain(
    triples: DataFrame,
    query: str | Query,
    stats: dict | None = None,
    limit_cap: int = RESULTS_LIMIT,
    infotons: DataFrame | None = None,
    mode: str = "formatted",
) -> str:
    """Explain-only evaluation — the reference's `explainOnly` /
    verbose modes (Config.explainOnly JenaArqExtensions.scala:310,
    SpHandler x-verbose): compile the query, execute NOTHING, return the
    plan text. Catalyst's formatted plan (scan pruning, PushedFilters,
    join strategies, codegen spans) replaces the reference's hand-built
    message log."""
    import contextlib
    import io

    df = sparql_query(triples, query, stats, limit_cap, infotons)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()
