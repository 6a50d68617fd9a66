"""Graph traversals — xg / yg / gqp (SURVEY.md §2.3, J1-J3, J7).

These are CM-Well's "joins": URI-identity equi joins between FReference
field values and infoton paths.

  xg  (J1) expand-out: bounded (<=9) unrolled loop of edge hops,
      accumulating distinct paths (reference: deepExpandGraph
      wsutil/package.scala:716-749, expandIn :521-615; limit 10000
      application.conf:71).
  yg  (J2) expand-up/in chains: '<field' = reverse join (who points at
      me), '>field' = forward deref (pathExpansionParser wsutil:850-963,
      expandUp :617-714).
  gqp (J3) like yg but only FILTERS the result set: an original survives
      iff the whole segment chain reaches a non-empty population
      (gqpFilter wsutil:751-849) -> chain of semi joins.
  J7  ghost skipping: dangling references simply find no row on the
      other side of the join; the chain continues from what matched
      (GhostInfoton Infoton.scala:320; ExpansionTests.scala:238-243).

Scale shape: every hop reads EDGES from the predicate-partitioned
`triples` table — a narrow, partition-pruned scan (bound field names
prune to their `p` partitions) restricted to the frontier (plans/keyset) —
never a scan of the wide doc-table field maps. Per-level `[qp]` filters
hydrate only the candidate target paths. The traversal bookkeeping is
path sets; full infoton rows are fetched ONCE at the end via a semi join.

A set whose only consumer is a semi join may be a bag: hop targets and
gqp's suffix sets keep their duplicates while predicate_stats' exact
triple count bounds them within the broadcast cap (keyset.semi_keys),
and are deduplicated otherwise. The frontiers that later hops and the
anti join against the accumulator see are hydrated rows, one per path.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cm_well_spark.operators.graph import reference_edges
from cm_well_spark.parsers.expansion import (
    ExpandIn,
    ExpandUp,
    FilteredField,
    LevelExpansion,
    PathsExpansion,
    parse_gqp,
    parse_xg,
    parse_yg,
)
from cm_well_spark.plans.compile import compile_filter
from cm_well_spark.plans.iterative import iter_checkpoint_count, iter_checkpoint_lazy
from cm_well_spark.plans.keyset import export_path_bound, proven_path_bound, restrict, semi_keys

XG_LIMIT = 10_000  # webservice.xg.limit (application.conf:71)


def _target_filter(selectors: tuple[FilteredField, ...]) -> Column | None:
    qps = [s.qp for s in selectors if s.qp is not None]
    if not qps:
        return None
    return reduce(lambda a, b: a & b, (compile_filter(q) for q in qps))


def _edges(triples: DataFrame, selectors, reverse: bool) -> DataFrame:
    """(src, dst) edge pairs through the selected fields — graph's
    reference_edges, undeduplicated. Bound field names prune the triples
    scan to their `p` partitions; the joker reads all reference-valued
    rows."""
    fields = [s.field for s in selectors]
    named = None if None in fields else fields
    pairs = reference_edges(triples, named or None, dedup=False)
    if reverse:
        return pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return pairs


def _filtered_paths(infotons: DataFrame, paths: DataFrame, selectors) -> DataFrame:
    """Apply the per-level [qp] filter by hydrating ONLY the candidate
    paths (keyset.restrict), returning the surviving path set."""
    tf = _target_filter(selectors)
    hydrated = restrict(infotons.where(F.col("current")), "path", paths)
    if tf is not None:
        hydrated = hydrated.where(tf)
    return hydrated.select("path")


def _stats_sum(selectors, stats: dict | None, key: str) -> int | None:
    """Sum of one predicate_stats column over the selected fields. None
    when unknown (joker field / missing stats)."""
    if stats is None:
        return None
    named = [s.field for s in selectors if s.field is not None]
    if not named or any(s.field is None for s in selectors):
        return None
    try:
        return sum(int(stats[f][key]) for f in named)
    except KeyError:
        return 0  # field never seen in the store: hop lands nowhere


def _stats_dst_bound(selectors, reverse: bool, stats: dict | None) -> int | None:
    """Bound on a hop's distinct target count from predicate_stats:
    forward targets are the fields' distinct objects, reverse targets the
    distinct subjects. These are approx_count_distinct estimates (about
    5% error), so they pick routes only and never remove rows."""
    return _stats_sum(selectors, stats, "dsubj" if reverse else "dobj")


def _stats_edge_rows(selectors, stats: dict | None) -> int | None:
    """EXACT bound on the rows of a hop's edges, either direction: the
    fields' triple counts."""
    return _stats_sum(selectors, stats, "n")


def _bounded(df: DataFrame, bound: int | None) -> DataFrame:
    """Checkpoint a path set and carry its bound for keyset.restrict: the
    stats bound when there is one (lazy checkpoint, no counting job),
    else the counted checkpoint (one job). Either way the checkpoint runs
    the plan's shuffle and broadcast stages when it is taken (AQE)."""
    if bound is None:
        df, bound = iter_checkpoint_count(df)
    else:
        df = iter_checkpoint_lazy(df)
    return export_path_bound(df, bound)


def _hop(
    infotons: DataFrame,
    triples: DataFrame,
    frontier: DataFrame,
    selectors,
    reverse: bool,
    stats: dict | None = None,
) -> DataFrame:
    """One edge hop from a bound-carrying frontier. The hop TARGETS are a
    semi join's key frame (keyset.semi_keys): bounded by predicate_stats
    when the fields are named (no extra job at all), else keyset.restrict
    counts them — never assumed."""
    edges = restrict(_edges(triples, selectors, reverse), "src", frontier)
    dsts = semi_keys(
        edges.select(F.col("dst").alias("path")),
        _stats_edge_rows(selectors, stats),
        _stats_dst_bound(selectors, reverse, stats),
    )
    # ghost skip (J7): only paths that exist as current infotons survive,
    # and the per-level filter applies to the hydrated targets
    return _filtered_paths(infotons, dsts, selectors)


def _hydrate(infotons: DataFrame, parts: list[DataFrame], limit: int) -> DataFrame:
    """Current rows of at most `limit` paths of the union of `parts` (each
    may carry a bound). When the bounds add up to at most `limit`, the
    union is the key frame as it is (a semi join ignores its duplicates)
    and the limit applies to the hydrated rows; else `limit` distinct
    keys are taken first. Either way the limit is applied, so a bound
    that underestimates cannot change the rows."""
    current = infotons.where(F.col("current"))
    paths = reduce(lambda a, b: a.unionByName(b), parts)
    bounds = [proven_path_bound(p) for p in parts]
    if None not in bounds and sum(bounds) <= limit:
        return restrict(current, "path", export_path_bound(paths, sum(bounds))).limit(limit)
    return restrict(current, "path", export_path_bound(paths.distinct().limit(limit), limit))


def expand_out(
    infotons: DataFrame,
    seeds: DataFrame,
    xg: str | list[LevelExpansion] = "",
    limit: int = XG_LIMIT,
    triples: DataFrame | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """J1 xg: returns seeds plus all expanded infotons (distinct by path).
    Levels are bounded at 9 by the grammar, so the loop unrolls into one
    declarative plan."""
    from cm_well_spark.model.lakehouse import triples_of

    t = triples if triples is not None else triples_of(infotons)
    levels = parse_xg(xg) if isinstance(xg, str) else xg
    # iterative expansion: checkpoint the frontier each level — without
    # this the accumulated plan re-evaluates the whole chain 2^levels
    # times (measured 10x wall on a 2-level xg). Seed-bound elision (r11):
    # search() exports its row bound (plans/keyset.py), so bounded
    # seed sets skip the counted checkpoint. An unproven frontier's
    # checkpoint runs its hop's shuffle and broadcast stages when it is
    # taken (AQE), during this build; only the blocks ride the first
    # consuming action. Per level, the new frontier is a
    # subset of the hop's targets, so the hop's predicate-stats estimate
    # bounds the next level's key set with zero extra jobs; unbounded hops
    # pay the counted checkpoint.
    frontier = _bounded(seeds.select("path"), proven_path_bound(seeds))
    parts = [frontier]
    for level in levels:
        targets = _hop(infotons, t, frontier, level.fields, reverse=False, stats=stats)
        acc = reduce(lambda a, b: a.unionByName(b), parts)
        new = targets.join(acc, "path", "left_anti")
        frontier = _bounded(new, _stats_dst_bound(level.fields, False, stats))
        # the accumulator is NOT re-checkpointed: it stays a flat union of
        # already-checkpointed frontiers, so its lineage is one node per
        # level (not exponential) and we skip a full materialization per
        # level — one less serial job under scheduler latency
        parts.append(frontier)
    return _hydrate(infotons, parts, limit)


def expand_paths(
    infotons: DataFrame,
    triples: DataFrame,
    seeds: DataFrame,
    yg: str | PathsExpansion,
    limit: int = XG_LIMIT,
    stats: dict | None = None,
) -> DataFrame:
    """J2 yg: walk each `|`-alternative segment chain from the seeds and
    keep the WHOLE discovered path (seeds + every intermediate + final)."""
    pe = parse_yg(yg) if isinstance(yg, str) else yg
    # seed-bound elision and per-hop stats bounds — same contract as
    # expand_out
    seed_paths = _bounded(seeds.select("path"), proven_path_bound(seeds))
    parts = [seed_paths]
    for path in pe.paths:
        # each |-alternative restarts from the seeds
        frontier = seed_paths
        for seg in path.segments:
            reverse = isinstance(seg, ExpandUp)
            hopped = _hop(infotons, triples, frontier, seg.fields, reverse=reverse, stats=stats)
            frontier = _bounded(hopped, _stats_dst_bound(seg.fields, reverse, stats))
            # flat union of checkpointed frontiers — no per-segment
            # re-materialization of the accumulator (see expand_out)
            parts.append(frontier)
    return _hydrate(infotons, parts, limit)


def gqp_filter(
    infotons: DataFrame,
    triples: DataFrame,
    results: DataFrame,
    gqp: str | PathsExpansion,
    stats: dict | None = None,
) -> DataFrame:
    """J3 gqp: keep only result rows whose full segment chain reaches a
    non-empty population; adds nothing to the result set.

    Scale shape: the chain is evaluated BACKWARDS as path-set semi joins.
    For segments s1..sn, compute once the set S_i of paths from which the
    suffix s_i..s_n succeeds:  S_n+1 = (no constraint);  S_i = sources of
    s_i-edges whose target exists (ghost skip, J7), satisfies the per-level
    [qp] filter, and lies in S_i+1.  The final mask is one semi join of the
    results against S_1.  Every intermediate is a path set — never
    (orig, cur) pairs — so cost is O(|edges| + |paths|) per segment and
    independent of |results| x fan-out (the pair-carrying blowup this
    replaces).  Each S_i feeds only semi joins, so it keeps its duplicate
    paths while the segment's triple count bounds it within the broadcast
    cap, and is distinct otherwise (keyset.semi_keys).  A result survives
    if ANY `|`-alternative survives (gqpFilter wsutil/package.scala:751-849).

    The mask's bound: each alternative's survivors are SOURCES of its
    first segment's edges, so its rows are bounded by that segment's
    triple count and its distinct paths by the summed source estimate
    (dsubj forward / dobj reverse); only unproven chains pay restrict's
    counted checkpoint. Either way the WIDE result rows never shuffle for
    a small mask."""
    pe = parse_gqp(gqp) if isinstance(gqp, str) else gqp
    survivor_sets, rows, bounds = [], [], []
    for path in pe.paths:
        if not path.segments:
            continue
        later: DataFrame | None = None  # S_{i+1}; None = unconstrained suffix
        for seg in reversed(path.segments):
            reverse = isinstance(seg, ExpandUp)
            edges = _edges(triples, seg.fields, reverse)
            # valid targets: current infotons (ghost skip) meeting the filter
            tf = _target_filter(seg.fields)
            targets = infotons.where(F.col("current"))
            if tf is not None:
                targets = targets.where(tf)
            targets = targets.select("path")
            if later is not None:
                targets = targets.join(later, "path", "left_semi")
            seg_rows = _stats_edge_rows(seg.fields, stats)
            seg_bound = _stats_dst_bound(seg.fields, not reverse, stats)
            later = semi_keys(
                edges.join(targets.withColumnRenamed("path", "dst"), "dst", "left_semi")
                .select(F.col("src").alias("path")),
                seg_rows,
                seg_bound,
            )
        survivor_sets.append(later)
        rows.append(seg_rows)
        bounds.append(seg_bound)
    if not survivor_sets:
        return results
    # the union keeps duplicates only if every part did (their rows sum
    # within the cap)
    survivors = semi_keys(
        reduce(lambda a, b: a.unionByName(b), survivor_sets),
        None if None in rows else sum(rows),
        None if None in bounds else sum(bounds),
    )
    return restrict(results, "path", survivors)
