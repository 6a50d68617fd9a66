"""Bounded-memory frequency sketches.

heavy_hitters: every key with frequency >= ceil(phi * N), with EXACT
counts, without ever shuffling the full distinct-key set. The classic
two-pass frequent-items recipe (Misra-Gries 1982 / frequent algorithm,
Cormode & Hadjieleftheriou 2008 survey):

  pass 1  candidate nomination with bounded memory and NO false
          negatives. Primary path: Spark's own stat.freqItems — the
          JVM-side distributed frequent-elements summary (one
          treeAggregate of per-partition bounded maps; whole-stage
          scan, zero Python, zero shuffle of distinct keys), called at
          support phi/2 so boundary items keep margin. Below freqItems'
          1e-4 support floor: per-Arrow-batch summaries with capacity
          c = max(8, ceil(2/phi)) — if f_b(x) <= N_b/c in every batch
          then f(x) <= N/c < phi*N, so every true heavy hitter is
          nominated either way.
  pass 2  exact recount of the candidate set only (plans/keyset
          restrict: a literal list or a counted broadcast semi-join),
          thresholded against the total count inside the same plan.

Why this matters at 100 TB: the naive `groupBy(key).count()` shuffles
every distinct key (billions of n-grams); here the only full-corpus
work is two scans, and the shuffle carries candidates only. The answer
is EXACT (not approximate), so the whole operator is SQL-replayable and
hash-checked against the brute-force GROUP BY oracle.

Reference parity: the reference's significant-terms/term aggregations
(FTSService aggregations) return exact top-k via ES shard aggs; this is
the corpus-scale frequent-items complement for training-data n-gram
audits (boilerplate phrases, contamination hot spots).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cm_well_spark.plans.keyset import restrict


def heavy_hitters(
    items: DataFrame,
    key_col: str = "token",
    phi: float = 0.001,
) -> DataFrame:
    """(key_col, cnt) for every key with cnt >= max(1, ceil(phi * N)),
    N = total non-empty rows of `items`. Exact counts, candidates found
    batch-wise with bounded memory — see module docstring."""
    if not (0.0 < phi <= 1.0):
        raise ValueError("phi must be in (0, 1]")
    import pandas as pd

    stream = items.where(F.col(key_col).isNotNull() & (F.col(key_col) != ""))

    if phi / 2.0 >= 1e-4:
        # JVM path: Spark's stat.freqItems IS the distributed
        # frequent-elements summary (Karp/Misra-Gries family,
        # implemented as a single treeAggregate — per-partition bounded
        # maps merged once, whole-stage scan, zero Python, zero shuffle
        # of distinct keys). Contract matches ours exactly: may return
        # false positives, NEVER misses an item above the support — the
        # recount kills the false positives.
        row = stream.stat.freqItems([key_col], support=phi / 2.0).first()
        candidates = [v for v in row[f"{key_col}_freqItems"] if v is not None]
    else:
        # phi/2 below freqItems' 1e-4 support floor (phi < 2e-4):
        # per-Arrow-batch summaries with capacity c — same guarantee,
        # paid in Arrow transfer
        cap = max(8, math.ceil(2.0 / phi))

        def batch_frequent(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                if not len(pdf):
                    continue
                vc = pdf[key_col].value_counts()
                thr = len(pdf) / cap
                yield pd.DataFrame({key_col: vc.index[vc.to_numpy() > thr]})

        candidates = stream.mapInPandas(batch_frequent, schema=f"{key_col} string").distinct()

    recount_src = restrict(stream, key_col, candidates)
    counts = recount_src.groupBy(key_col).agg(F.count(F.lit(1)).alias("cnt"))
    total = stream.agg(F.count(F.lit(1)).alias("__n"))
    return (
        counts.crossJoin(F.broadcast(total))
        .where(F.col("cnt") >= F.greatest(F.lit(1), F.ceil(F.lit(phi) * F.col("__n")).cast("long")))
        .select(key_col, "cnt")
    )


def word_heavy_hitters(
    docs: DataFrame, phi: float = 0.001, text_col: str = "text"
) -> DataFrame:
    """heavy_hitters over the corpus's normalized word stream —
    (token, cnt) for words making up >= phi of all tokens."""
    from cm_well_spark.operators.text import normalize_text, spread_for_cpu

    words = spread_for_cpu(docs).select(
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("token")
    )
    return heavy_hitters(words, key_col="token", phi=phi)


def quantile_sketch(
    df: DataFrame,
    value: F.Column | str,
    probabilities: list[float] = (0.1, 0.25, 0.5, 0.75, 0.9),
    accuracy: int = 10_000,
    by: str | None = None,
) -> DataFrame:
    """Approximate quantiles with bounded memory -> one row (or one per
    `by` stratum) with (p, q) pairs exploded to (stratum?, p, q): Spark's
    approx_percentile — the Greenwald-Khanna mergeable summary running
    JVM-side as ONE partial-aggregated pass (per-partition GK sketches,
    tree-merged; error <= 1/accuracy of rank). The 100 TB complement of
    curation.score_quantiles: the exact operator sort-shuffles the full
    column per stratum, which is the right call up to medium scale and
    for oracle replay; the sketch reads the column once and never
    shuffles data rows — the standard trade for percentile dashboards /
    filter-threshold calibration over billions of docs.

    Rows-only by nature: GK merge results depend on partition merge
    order (and DuckDB's approx_quantile is a different sketch), so the
    registry entry has no hash oracle — pytest pins the rank-error
    contract against the exact quantiles instead."""
    col = F.col(value) if isinstance(value, str) else value
    probs = F.array(*[F.lit(float(p)) for p in probabilities])
    agg = F.approx_percentile(col.cast("double"), probs, F.lit(accuracy)).alias("qs")
    base = df.groupBy(by).agg(agg) if by else df.agg(agg)
    keys = [by] if by else []
    return base.select(
        *keys,
        F.posexplode("qs").alias("pos", "q"),
    ).select(
        *keys,
        F.element_at(F.array(*[F.lit(float(p)) for p in probabilities]), F.col("pos") + 1).alias("p"),
        F.round("q", 6).alias("q"),
    )
