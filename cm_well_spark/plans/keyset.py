"""One way to restrict a relation to a set of keys.

Reads and writes keep cutting a relation down to a set of keys: xg/yg/gqp
hop frontiers, search candidate hydration, `_out` batch gets, the merge
writer's affected paths, merge-on-read reconciliation, graph frontiers,
sketch recounts, `_ow` overwrite, x-verify/x-fix, pull fetches, the
materialized-view agent's changed and affected subjects, Gremlin
except/retain sets, decontamination and URL blocklists, hot-shingle
guards, term sub-aggregation buckets and ANN probe cells and shortlists.
`restrict` picks the physical route for every one of them, from one cap
table, in two steps.

Bound. A driver list is bounded by its length. A key frame is bounded by
its proof (export_path_bound, below) or, without one, by one counted
checkpoint: the keys are lazily checkpointed and a single job saves them
while it observes their count and their key range. Under AQE taking the
checkpoint already runs the key plan's shuffle and broadcast stages
(plans/iterative.iter_checkpoint_lazy), so a distinct key frame costs
its shuffle there too. The count is exported on the caller's frame as
its proof, and the checkpoint, count and range stay on it, so every
later restriction by the same frame pays no second job and its plan
shares one broadcast exchange with the first.

Route.
  - A list of at most LITERAL_MAX keys becomes `between(min, max) &
    isin(...)`. The envelope is sargable at any size: parquet pushes a
    min/max range filter however long the IN list, and an IN list past
    spark.sql.parquet.pushdown.inFilterThreshold silently stops pushing
    (measured 45 s vs 5 s per write batch on the compacted sf1 store).
    The IN list then filters the residue rows.
  - A key set bounded by BROADCAST_MAX becomes a broadcast semi/anti
    join, with the same envelope whenever the range is known.
  - Anything else is a plain join, and AQE picks the strategy: a blind
    broadcast of a backfill-sized key set would exhaust executor memory.

A frame is never collected just to get literals. Traversal built that
route (collect each level's frontier, push `src IN (...)` into the next
scan) and rejected it: A/B at sf0.1 measured 3.24 s vs 1.71 s with the
same job count, because under AQE each level's collect still runs the
stage jobs the checkpoint would, plus the py4j transfer.

LITERAL_MAX comes from the merge writer's measured curve. The
apply_commands plan embeds the list at three sites, and the py4j +
analyzer cost of the In expressions grows superlinearly. At sf0.1, 3
reps, build = plan construction, exec = .count of the rewritten
986k-row table:

    batch      isin build / exec      join build / exec
    4          0.62 / 0.99            0.51 / 0.71
    100        0.51 / 1.46            0.43 / 1.96
    500        3.17 / 5.70            1.34 / 6.38
    1,000      1.25 / 6.08            0.39 / 6.36
    10,000     9.9-28.8 / ~40         0.5 / ~40
    95,000     101-120 / 66-81        0.5-0.6 / 45-102

The literal route's storage-pruning edge (parquet row-group min/max and
in-memory batch pruning on the path-sorted store, instead of a runtime
join that deserializes the wide fields map of every row) survives only
below a few hundred scattered keys; past ~500 the exec advantage is gone
and the driver cost explodes.

BROADCAST_MAX is the session's 64 MB autoBroadcastJoinThreshold at about
64 B per path.

What stays hand-routed. `restrict` keeps rows of one relation by key
membership and carries no column of the key side, so a join stays
outside it when it is not that: 1-row aggregate crossJoins; joins that
carry columns from the small side (similarity query batches, curation
rates and bucket prefixes, temporal sizes, the compaction interval
joins); SPARQL VALUES inline data (the UNDEF theta semi join's null-safe
OR-equality is not a key equality) and the graph-name domain;
query-constant predicate lists (Gremlin labels, graph fields, SPARQL
IN/FROM); Gremlin's `V(paths)` seed frontiers, whose hint keeps the
later hops' joins broadcast (without it they plan a sort-merge join);
and plain unhinted semi joins, which already leave the route to Spark.

Bounds. A producer that knows an upper bound on its row count exports
it with export_path_bound, and `restrict` reuses it instead of paying
the counted checkpoint. Some bounds are exact, and only these are
proofs:

  - predicate_stats' n_triples, a count per predicate (index-route
    candidates, traversal hop edges, gqp suffix sets);
  - a paging length or a contract size such as a top-k;
  - parquet footer row counts (the merge-on-read views' delta keys);
  - the length of a driver list;
  - a counted checkpoint's count.

predicate_stats' dobj and dsubj are approx_count_distinct estimates
(about 5% error), not proofs. An estimate may choose a route, but it
may never remove an operator that changes rows: traversal's hydration
takes a limit on its key union only when the bounds fit the limit, and
still applies the limit to the rows it returns.

A semi or anti join ignores duplicate keys, so a key frame needs no
distinct (semi_keys): it keeps its duplicates when an exact row bound
keeps it within BROADCAST_MAX, where it broadcasts as its distinct keys
would, and is deduplicated otherwise.

A producer that can also prove the (min, max) range of its keys exports
it as the envelope, which `restrict` applies as the sargable `between`
filter of a semi join. Parquet footers prove both without reading data:
the merge-on-read views take the deltas' `path` column as the key
frame, bounded by the sum of the batch files' row counts and enveloped
by their `path` min/max (model/compaction._delta_paths). Unlike the
bound, the envelope filters rows, so it must hold every key: a file
without statistics leaves the frame unproven.

A driver list past LITERAL_MAX becomes its key frame through Arrow: a
LocalRelation built in the JVM, whose scans start no Python worker
(local_frame, which builds every frame of driver rows in the package).

The carriers are instance attributes on the DataFrame object, which is
fail-safe but fragile: ANY transformation returns a new DataFrame and
drops them, and consumers then fall back to the counted route. So the
protocol is explicit:

- the reader looks ONLY in the instance __dict__, never through
  DataFrame.__getattr__: a dataset with a column literally named
  `_cmw_path_bound` must not resolve to a Column (which would make
  `bound <= cap` raise inside the consumer);
- the reader type-checks, so nothing but an int bound and a pair
  envelope ever escapes;
- the bound is STRATEGY-ONLY: consumers may pick a join route with it,
  but must never derive rows from it; the envelope, which does filter
  rows, is exported only with a proof that covers every key.

Pinned by tests/test_r12_optimizations.py: the registry's xg/yg seed
searches export a bound and their traversals skip the seed count job;
a refactor that drops the attribute degrades to the counted route with
identical rows. tests/test_compaction.py pins the footer proofs: both
merge-on-read views build with no job and hash the same as the counted
route.
"""

from __future__ import annotations

from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from cm_well_spark.plans.iterative import iter_checkpoint_lazy

LITERAL_MAX = 256
BROADCAST_MAX = 1_000_000

_KEY = "__keyset_key"
#: instance attribute a proven key frame carries: its row upper bound
_BOUND_ATTR = "_cmw_path_bound"
#: instance attribute a proven key frame may carry: (min, max) of its keys
_ENVELOPE_ATTR = "_cmw_path_envelope"
#: instance attribute a counted key frame carries: (checkpointed keys,
#: count, range), so every later restriction by that frame reuses them
_COUNTED_ATTR = "_cmw_keyset_counted"


def export_path_bound(df: DataFrame, bound: int, envelope: tuple | None = None) -> DataFrame:
    """Attach a row upper bound to `df` (see Bounds in the module
    docstring), and optionally the PROVEN (min, max) range of its keys
    (mutates and returns it)."""
    df.__dict__[_BOUND_ATTR] = int(bound)
    if envelope is not None:
        df.__dict__[_ENVELOPE_ATTR] = tuple(envelope)
    return df


def proven_path_bound(df: DataFrame) -> int | None:
    """The row bound carried by `df`, or None when absent."""
    bound = df.__dict__.get(_BOUND_ATTR)
    return bound if isinstance(bound, int) else None


def _key_frame(keys: DataFrame) -> tuple[DataFrame, int, tuple | None]:
    """(one-column key frame, bound, key range or None) for `keys`."""
    counted = keys.__dict__.get(_COUNTED_ATTR)
    if counted is not None:
        return counted
    frame = keys.select(F.col(keys.columns[0]).alias(_KEY))
    bound = proven_path_bound(keys)
    if bound is not None:
        envelope = keys.__dict__.get(_ENVELOPE_ATTR)
        return frame, bound, envelope if isinstance(envelope, tuple) and len(envelope) == 2 else None
    # the checkpoint truncates the plan at once; under AQE that call
    # already runs every shuffle and broadcast stage of it (see
    # iter_checkpoint_lazy), so a distinct's shuffle runs here. One more
    # job saves the blocks while it observes the count and range; an
    # aggregate action would cost AQE a second job for its exchange.
    frame = iter_checkpoint_lazy(frame)
    seen = Observation()
    observed = frame.observe(seen, F.count(F.lit(1)), F.min(_KEY), F.max(_KEY))
    observed.write.format("noop").mode("overwrite").save()
    bound, lo, hi = seen.get.values()
    export_path_bound(keys, bound)
    counted = keys.__dict__[_COUNTED_ATTR] = (frame, bound, None if lo is None else (lo, hi))
    return counted


def local_frame(spark: SparkSession, rows: list[tuple], schema: T.StructType | str) -> DataFrame:
    """A frame of driver rows built through Arrow: the rows become a
    LocalRelation in the JVM. `createDataFrame(list)` would make a Python
    RDD, and every scan of it would start Python-worker tasks (a `noop`
    scan of 384 keys on 4 cores: 0.31-0.42 s against 43-70 ms).
    `schema` is a StructType or a DDL string."""
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    arrow = to_arrow_schema(schema)
    columns = zip(*rows) if rows else ([] for _ in arrow)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(columns, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def semi_keys(keys: DataFrame, rows: int | None, distinct: int | None = None) -> DataFrame:
    """The key frame of a semi or anti join, which ignores duplicate keys.

    With an exact row bound `rows` of at most BROADCAST_MAX, `keys` keeps
    its duplicates and carries `rows`: it broadcasts exactly as its
    distinct keys would, and no distinct shuffle (one Spark job under AQE)
    runs. Otherwise the keys are deduplicated and carry `distinct`, a
    bound on the distinct keys (an estimate is fine: it only picks the
    route), or nothing, and `restrict` counts them."""
    if rows is not None and rows <= BROADCAST_MAX:
        return export_path_bound(keys, rows)
    keys = keys.distinct()
    return keys if distinct is None else export_path_bound(keys, distinct)


def restrict(
    df: DataFrame, col: str, keys: Iterable | DataFrame, *, anti: bool = False
) -> DataFrame:
    """Rows of `df` whose `col` is in `keys` (or, with `anti`, is not —
    a NULL `col` never matches, exactly like a left anti join). `keys` is
    a driver collection or a one-column key frame; see the module
    docstring for the route."""
    if isinstance(keys, DataFrame):
        frame, bound, envelope = _key_frame(keys)
    else:
        literals = sorted({k for k in keys if k is not None})
        if not literals:
            return df if anti else df.where(F.lit(False))
        envelope = (literals[0], literals[-1])
        if len(literals) <= LITERAL_MAX:
            hit = F.col(col).between(*envelope) & F.col(col).isin(literals)
            return df.where(~F.coalesce(hit, F.lit(False))) if anti else df.where(hit)
        bound = len(literals)
        schema = T.StructType([T.StructField(_KEY, df.schema[col].dataType)])
        frame = local_frame(df.sparkSession, [(k,) for k in literals], schema)
    if bound <= BROADCAST_MAX:
        frame = F.broadcast(frame)
    if envelope is not None and not anti:
        df = df.where(F.col(col).between(*envelope))
    return df.join(frame, F.col(col) == F.col(_KEY), "left_anti" if anti else "left_semi")
