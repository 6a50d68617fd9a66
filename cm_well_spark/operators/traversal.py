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
from cm_well_spark.plans.keyset import export_path_bound, proven_path_bound, restrict

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


def _stats_dst_bound(selectors, reverse: bool, stats: dict | None) -> int | None:
    """Upper bound on a hop's distinct target count from predicate_stats:
    forward targets are the fields' distinct objects, reverse targets the
    distinct subjects. None when unprovable (joker field / missing stats)."""
    if stats is None:
        return None
    named = [s.field for s in selectors if s.field is not None]
    if not named or any(s.field is None for s in selectors):
        return None
    key = "dsubj" if reverse else "dobj"
    try:
        return sum(int(stats[f][key]) for f in named)
    except KeyError:
        return 0  # field never seen in the store: hop lands nowhere


def _bounded(df: DataFrame, bound: int | None) -> DataFrame:
    """Checkpoint a path set and carry its bound for keyset.restrict: the
    stats proof when there is one (lazy checkpoint, no counting job),
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
    """One edge hop from a bound-carrying frontier. The hop TARGETS'
    bound is the predicate_stats proof when the fields are named (no
    extra job at all), else keyset.restrict counts them — never assumed."""
    edges = restrict(_edges(triples, selectors, reverse), "src", frontier)
    dsts = edges.select(F.col("dst").alias("path")).distinct()
    stat_bound = _stats_dst_bound(selectors, reverse, stats)
    if stat_bound is not None:
        export_path_bound(dsts, stat_bound)
    # ghost skip (J7): only paths that exist as current infotons survive,
    # and the per-level filter applies to the hydrated targets
    return _filtered_paths(infotons, dsts, selectors)


def _hydrate(infotons: DataFrame, paths: DataFrame, limit: int) -> DataFrame:
    keys = export_path_bound(paths.distinct().limit(limit), limit)
    return restrict(infotons.where(F.col("current")), "path", keys)


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
    # search() exports its proven row bound (plans/keyset.py), so bounded
    # seed sets skip the counted checkpoint. An unproven frontier's
    # checkpoint runs its hop's shuffle and broadcast stages when it is
    # taken (AQE), during this build; only the blocks ride the first
    # consuming action. Per level, the new frontier is a
    # subset of the hop's targets, so a predicate-stats bound on the hop
    # proves the next level's key set with zero extra jobs; unproven hops
    # pay the counted checkpoint.
    acc = frontier = _bounded(seeds.select("path"), proven_path_bound(seeds))
    for level in levels:
        targets = _hop(infotons, t, frontier, level.fields, reverse=False, stats=stats)
        new = targets.join(acc, "path", "left_anti")
        frontier = _bounded(new, _stats_dst_bound(level.fields, False, stats))
        # acc itself is NOT re-checkpointed: it stays a flat union of
        # already-checkpointed frontiers, so its lineage is one node per
        # level (not exponential) and we skip a full materialization per
        # level — one less serial job under scheduler latency
        acc = acc.unionByName(frontier)
    return _hydrate(infotons, acc, limit)


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
    # seed-bound elision and per-hop stats proofs — same contract as
    # expand_out
    acc = seed_paths = _bounded(seeds.select("path"), proven_path_bound(seeds))
    for path in pe.paths:
        # each |-alternative restarts from the seeds
        frontier = seed_paths
        for seg in path.segments:
            reverse = isinstance(seg, ExpandUp)
            hopped = _hop(infotons, triples, frontier, seg.fields, reverse=reverse, stats=stats)
            frontier = _bounded(hopped, _stats_dst_bound(seg.fields, reverse, stats))
            # flat union of checkpointed frontiers — no per-segment
            # re-materialization of the accumulator (see expand_out)
            acc = acc.unionByName(frontier)
    return _hydrate(infotons, acc, limit)


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
    results against S_1.  Every intermediate is a DISTINCT path set — never
    (orig, cur) pairs — so cost is O(|edges| + |paths|) per segment and
    independent of |results| x fan-out (the pair-carrying blowup this
    replaces).  A result survives if ANY `|`-alternative survives
    (gqpFilter wsutil/package.scala:751-849)."""
    pe = parse_gqp(gqp) if isinstance(gqp, str) else gqp
    survivor_sets = []
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
            later = (
                edges.join(targets.withColumnRenamed("path", "dst"), "dst", "left_semi")
                .select(F.col("src").alias("path"))
                .distinct()
            )
        survivor_sets.append(later)
    if not survivor_sets:
        return results
    survivors = reduce(lambda a, b: a.unionByName(b), survivor_sets).distinct()
    # stats-proof elision (r11): each alternative's survivors are SOURCES
    # of its first segment's edges, so the summed per-alternative source
    # bound (dsubj forward / dobj reverse) proves the mask's key set with
    # zero extra jobs; only unproven chains pay restrict's counted
    # checkpoint. Either way the WIDE result rows never shuffle for a
    # small mask.
    bound: int | None = 0
    for path in pe.paths:
        if not path.segments:
            continue
        seg1 = path.segments[0]
        b = _stats_dst_bound(seg1.fields, not isinstance(seg1, ExpandUp), stats)
        if b is None:
            bound = None
            break
        bound += b
    if bound is not None:
        export_path_bound(survivors, bound)
    return restrict(results, "path", survivors)
