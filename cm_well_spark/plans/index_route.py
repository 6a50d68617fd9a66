"""Index-accelerated qp execution: filter via the triples table, hydrate
via the doc table.

This mirrors the reference's actual execution shape — the ES index answers
the filter and returns ids, then documents hydrate from Cassandra
(SURVEY §3.1 steps 4-6). Our "index" is the predicate-partitioned triples
table: a bound-field predicate scans ONE `p` partition of narrow columns
instead of deserializing every row's wide fields map. At 100 TB this is
the difference between a full-table scan per query and touching only the
filtered predicates' data.

Compilation: the FieldFilter tree becomes set algebra over path sets —
  Must single(field op value) -> pruned triples scan -> s
  field existence            -> pruned scan -> s
  Must group                 -> intersection (chained semi joins)
  Should group (no musts)    -> union
  MustNot / system fields / quad filters -> NOT set-expressible alone;
      returned as a RESIDUAL Column applied after hydration (doc side).

The sets are bags: a multi-valued predicate repeats its subject, and
overlapping Should branches repeat theirs. Their only consumer is the
hydrating semi join, which ignores duplicates, so a set is deduplicated
only when its exact row bound (predicate_stats' n_triples) is unknown or
above the broadcast cap (keyset.semi_keys).

`index_search_paths` returns (path_set_df | None, residual Column | None,
bound). If no positive set-expressible clause exists, path_set is None and
the caller falls back to the doc-side scan.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cm_well_spark.parsers.qp import (
    CONTAINS,
    EQUALS,
    GT,
    GTE,
    LIKE,
    LT,
    LTE,
    MUST,
    MUSTNOT,
    SHOULD,
    FieldFilter,
    MultiFieldFilter,
    SingleFieldFilter,
)
from cm_well_spark.plans.compile import (
    SYSTEM_COLUMNS,
    _fuzz,
    _parse_literal,
    analyze_expr,
    compile_filter,
)
from cm_well_spark.plans.keyset import semi_keys


def _triple_pred(ff: SingleFieldFilter) -> Column | None:
    """Row predicate over the triples schema for one field filter (the
    per-value predicate; p equality is applied by the caller)."""
    if ff.value is None:
        return F.lit(True)  # existence: any row of this predicate
    v = ff.value
    if ff.value_op == EQUALS:
        return F.col("o") == v
    if ff.value_op == CONTAINS:
        needle = F.concat(F.lit(" "), analyze_expr(F.lit(v)), F.lit(" "))
        return F.contains(F.concat(F.lit(" "), analyze_expr(F.col("o")), F.lit(" ")), needle)
    if ff.value_op == LIKE:
        # per-analyzed-term fuzzy, same as the doc-side predicate (r6
        # Lucene fuzzyQuery parity) — the candidate set must stay a
        # superset of what the residual accepts
        needle = F.lit(v.lower())
        return F.exists(
            F.split(analyze_expr(F.col("o")), " "),
            lambda tok: F.levenshtein(tok, needle) <= F.lit(_fuzz(v)),
        )
    kind, lit = _parse_literal(v)
    ops = {GT: "__gt__", GTE: "__ge__", LT: "__lt__", LTE: "__le__"}
    op = ops[ff.value_op]
    if kind == "num":
        return getattr(F.col("num"), op)(F.lit(lit))
    if kind == "ts":
        return getattr(F.col("ts"), op)(F.lit(lit.replace(tzinfo=None)))
    return getattr(F.col("o"), op)(F.lit(lit))


def _single_path_set(triples: DataFrame, ff: SingleFieldFilter) -> DataFrame | None:
    name = _pred_name(ff)
    if name is None:
        return None  # doc-side residual
    pred = _triple_pred(ff)
    t = triples.where(F.col("current")).where(F.col("p") == name)
    return t.where(pred).select("s")


def _pred_name(ff: SingleFieldFilter) -> str | None:
    """The triples `p` value a set-expressible filter scans, or None when
    the filter is doc-side only (system fields, quad filters)."""
    name = ff.name
    if len(name) > 2 and name[1] == "$":
        name = name[2:]
    if name in SYSTEM_COLUMNS or name == "system.quad":
        return None
    return name


def _single_bound(ff: SingleFieldFilter, stats: dict | None) -> int | None:
    """EXACT upper bound on a single filter's candidate rows, from
    predicate_stats: whatever the value predicate keeps, candidates are a
    subset of the predicate's triples, n_triples(p) (a count, so it also
    bounds the distinct paths). None = no proof (stats absent or
    predicate unknown/stale)."""
    name = _pred_name(ff)
    if stats is None or name is None or name not in stats:
        return None
    return stats[name].get("n")


def _set_for(
    triples: DataFrame, group: MultiFieldFilter, stats: dict | None = None
) -> tuple[DataFrame | None, list[FieldFilter], int | None, int | None]:
    """One bool level -> (candidate path bag or None, residual filters,
    upper bound on its rows or None, upper bound on its distinct paths or
    None).

    Soundness rules (candidates must be a SUPERSET of the true result so
    the residual only narrows):
      - expressible Must sets intersect; unexpressible Musts go residual;
      - Should clauses are optional whenever any Must exists (ES
        minimum_should_match=0) -> ignored for the set;
      - a pure-Should level is the union of its sets, but ONLY if every
        Should member is fully expressible AND no non-MustNot residual
        exists (an unexpressible Must would make the shoulds optional,
        so the union would wrongly exclude docs);
      - MustNot always goes residual (set complement needs the universe).

    The bounds mirror the same algebra over predicate_stats row counts.
    A chain of semi joins keeps the rows of its first set, so the
    intersection's rows are bounded by the first member's rows and its
    paths by the min of the member bounds; a union's rows and paths by
    the sums (None member = unproven -> whole level unproven for unions,
    skipped for mins)."""
    must_sets: list[DataFrame] = []
    must_rows: list[int | None] = []
    must_bounds: list[int | None] = []
    should_sets: list[DataFrame] = []
    should_rows: list[int | None] = []
    should_bounds: list[int | None] = []
    should_bad = False
    residual: list[FieldFilter] = []
    for f in group.filters:
        if f.field_op == MUSTNOT:
            residual.append(f)
            continue
        if isinstance(f, SingleFieldFilter):
            s = _single_path_set(triples, f)
            r = b = _single_bound(f, stats)
            sub_res: list[FieldFilter] = []
        else:
            s, sub_res, r, b = _set_for(triples, f, stats)
        if f.field_op == SHOULD:
            if s is None or sub_res:
                should_bad = True
            else:
                should_sets.append(s)
                should_rows.append(r)
                should_bounds.append(b)
        else:  # Must
            if s is None:
                residual.append(f)
            else:
                must_sets.append(s)
                must_rows.append(r)
                must_bounds.append(b)
                residual.extend(sub_res)
    if must_sets:
        out = reduce(lambda a, b: a.join(b, "s", "left_semi"), must_sets)
        known = [b for b in must_bounds if b is not None]
        return out, residual, must_rows[0], (min(known) if known else None)
    has_unexpressible_must = any(r.field_op != MUSTNOT for r in residual)
    if should_sets and not should_bad and not has_unexpressible_must:
        out = reduce(lambda a, b: a.unionByName(b), should_sets)
        return out, residual, _sum(should_rows), _sum(should_bounds)
    return None, [group], None, None


def _sum(bounds: list[int | None]) -> int | None:
    return None if None in bounds else sum(bounds)


def index_search_paths(
    triples: DataFrame, ff: FieldFilter, stats: dict | None = None
) -> tuple[DataFrame | None, Column | None, int | None]:
    """Compile the filter into (candidate path key frame, residual doc
    filter, upper bound on the distinct candidates or None). The key frame
    carries its own bound for keyset.restrict (keyset.semi_keys).
    Correctness contract: docs(candidates) ∩ residual == docs(filter) —
    the residual re-applies every clause the set algebra under-constrains
    (MustNot, system fields, quad filters, pure-should optionality)."""
    top = ff if isinstance(ff, MultiFieldFilter) else MultiFieldFilter(MUST, (ff,))
    path_set, residual, rows, bound = _set_for(triples, top, stats)
    if path_set is None:
        return None, compile_filter(ff), None
    res_col = None
    if residual:
        res_col = compile_filter(MultiFieldFilter(MUST, tuple(residual)))
    return semi_keys(path_set.withColumnRenamed("s", "path"), rows, bound), res_col, bound
