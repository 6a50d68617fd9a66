"""Proven-row-bound carrier between search() and its consumers.

search() can PROVE an upper bound on its result's row count (index-route
predicate-stats algebra, or an explicit paging limit). Downstream
route decisions — plans/keyset.restrict on a key frame — reuse that
proof instead of paying a checkpoint+count job; restrict also exports
the count it pays, so a frame is counted at most once.

The carrier is an instance attribute on the DataFrame object. That is
deliberately fail-safe but fragile: ANY transformation returns a new
DataFrame and silently drops it (consumers then fall back to the counted
path). These helpers make the protocol explicit and crash-proof:

- the reader looks ONLY in the instance __dict__, never through
  DataFrame.__getattr__ — a dataset with a column literally named
  `_cmw_path_bound` must not resolve to a Column (which would make
  `bound <= cap` raise inside the consumer, ADVICE r11);
- the reader type-checks, so nothing but an int ever escapes;
- the bound is STRATEGY-ONLY: consumers may pick a join route with it,
  but must never derive rows from it.

Pinned by tests/test_r12_optimizations.py: the registry's xg/yg seed
searches export a bound and their traversals skip the seed count job;
a refactor that drops the attribute degrades to the counted path with
identical rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: instance-attribute key; also the name legacy callers getattr'd.
BOUND_ATTR = "_cmw_path_bound"


def export_path_bound(df: DataFrame, bound: int) -> DataFrame:
    """Attach a PROVEN row upper bound to `df` (mutates and returns it)."""
    df.__dict__[BOUND_ATTR] = int(bound)
    return df


def proven_path_bound(df: DataFrame) -> int | None:
    """The proven row bound carried by `df`, or None when absent.

    Never consults DataFrame.__getattr__ (no column shadowing) and never
    returns a non-int.
    """
    bound = df.__dict__.get(BOUND_ATTR)
    return bound if isinstance(bound, int) else None
