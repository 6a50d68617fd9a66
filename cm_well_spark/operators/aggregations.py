"""Aggregations — op=stats / op=aggregate, `ap=` parameter (SURVEY.md §2.4).

Execution semantics follow FTSService.aggregate (FTSService.scala:940-1104):
aggs run on the FILTERED set (path/qp/dates applied first, :949-951); term
buckets order by doc count desc; hist buckets are floor(v/interval)*interval
with minDocCount + extended bounds; sig terms use the JLH-style score over
foreground vs background term frequencies; card is HLL approximate
(approx_count_distinct — same HLL++ family as ES cardinality).

Analyzed-vs-exact guard: `field:` (analyzed) on a string field is rejected
with the reference's error text ("aggregations failure due to fielddata
disabled", FTSService.scala:958-971; pinned by AggregationTests.scala:91).

Spark mapping notes (all built-in, partial+final hash agg via Catalyst):
  term   groupBy(value).count -> orderBy(count desc, key asc) limit size
  stats  agg(count,min,max,avg,sum) over the typed shadow
  hist   groupBy(floor(num/interval)*interval) + bucket-range fill
  sig    two grouped counts joined + score expression (no engine hook needed)
  card   approx_count_distinct / exact countDistinct variant

Multi-valued fields: every value of the set buckets separately (explode),
matching ES which indexes each value of an array field.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cm_well_spark.parsers.ap import (
    AggField,
    AggFilter,
    CardAgg,
    HistAgg,
    SigAgg,
    StatsAgg,
    TermAgg,
    parse_ap,
)
from cm_well_spark.plans.keyset import export_path_bound, restrict


class AggregationError(ValueError):
    pass


@dataclass
class AggResult:
    """One aggregation response node: a DataFrame of buckets/values plus
    nested sub-results keyed by the parent bucket columns (mirrors the
    nested AggregationsResponse, FTSService.scala:1023-1080)."""

    filter: AggFilter
    df: DataFrame
    subs: list["AggResult"]

    def to_rows(self):
        return self.df.collect()


def _exploded(df: DataFrame, f: AggField, extra: list[Column] | None = None) -> DataFrame:
    """(path, value-struct) rows for one field; one row per value (sets
    bucket per-value like ES array indexing)."""
    vals = F.col("fields").getItem(f.name)
    out = df.where(vals.isNotNull() & (F.size(vals) > 0)).select(
        "path", *(extra or []), F.explode(vals).alias("__v")
    )
    return out


def _exploded_indexed(
    triples: DataFrame, df: DataFrame, f: AggField, skip_join: bool = False
) -> DataFrame:
    """The index-first twin of _exploded: one pruned scan of the agg
    field's predicate partition (the ES doc-values analog — SURVEY §1.4),
    semi-joined to the filtered universe's path set. At 100 TB this reads
    ONE predicate's column data instead of deserializing every filtered
    doc's whole fields map; the path set is a narrow column-pruned
    projection that AQE broadcasts when small.

    `skip_join=True` = the caller PROVED the filtered universe covers
    every doc carrying this predicate (predicate_stats rdftypes ⊆ the
    universe's types under a pure type filter, no untyped subjects), so
    the pruned partition scan alone IS the answer — the common
    "aggregate over type X at 100 TB" shape with zero joins."""
    t = triples.where(F.col("current") & (F.col("p") == f.name))
    ex = t.select(
        F.col("s").alias("path"),
        F.struct(
            F.col("o").alias("value"),
            F.col("vtype").alias("vtype"),
            F.col("lang").alias("lang"),
            F.col("g").alias("quad"),
            F.col("num").alias("num"),
            F.col("ts").alias("ts"),
            F.col("bool").alias("bool"),
        ).alias("__v"),
    )
    if skip_join:
        return ex
    return ex.join(df.select("path"), "path", "left_semi")


INDEXED_AGG_THRESHOLD = 2_000_000  # predicate rows above which the pruned
# partition scan + path semi-join beats re-reading the filtered docs' maps


def _use_indexed(f: AggField, triples: DataFrame | None, stats: dict | None) -> bool:
    """Stats-driven route choice (the agg analog of the BGP reorderer):
    on a small predicate the cached doc-map explode is cheaper than an
    extra semi-join; past the threshold the fields-map re-read dominates
    and the doc-values-style pruned scan wins. No stats + explicit
    triples = the caller opted into the indexed route."""
    if triples is None:
        return False
    if stats is None:
        return True
    return stats.get(f.name, {}).get("n", 0) >= INDEXED_AGG_THRESHOLD


def _exploded_any(
    df: DataFrame, f: AggField, triples: DataFrame | None, stats: dict | None = None,
    ukinds: frozenset | None = None,
) -> DataFrame:
    if triples is not None:
        field_types = (stats or {}).get(f.name, {}).get("rdftypes")
        skip = (
            ukinds is not None
            and field_types is not None
            and set(field_types) <= set(ukinds)
        )
        # When the type-universe proof holds, the indexed route is ONE
        # pruned narrow partition scan with NO join — it beats the
        # doc-map explode at any predicate size (measured 6-10x at
        # sf0.1, r11), so the INDEXED_AGG_THRESHOLD only arbitrates the
        # joined variants.
        if skip:
            return _exploded_indexed(triples, df, f, skip_join=True)
        if _use_indexed(f, triples, stats):
            return _exploded_indexed(triples, df, f, skip_join=False)
    return _exploded(df, f)


def _guard_text(
    df: DataFrame,
    f: AggField,
    need_numeric: bool = False,
    triples: DataFrame | None = None,
    stats: dict | None = None,
) -> str:
    """Returns the field's vtype; raises the reference's exact error when
    an analyzed (`:`) aggregation hits a string field, or stats hits text.

    The vtype comes FREE from predicate_stats (materialized once per
    store, VERDICT r4 item 6) whenever the field has exactly one observed
    vtype — no probe job at all; only mixed-type fields (or stats-less
    callers) fall back to sampling one row."""
    vts = (stats or {}).get(f.name, {}).get("vtypes")
    if vts is not None and len(vts) <= 1:
        vt = vts[0] if vts else None
    elif triples is not None:
        row = (
            triples.where(F.col("current") & (F.col("p") == f.name)).select(F.col("vtype").alias("vt")).first()
        )
        vt = row["vt"] if row else None
    else:
        row = (
            df.where(F.col("fields").getItem(f.name).isNotNull())
            .select(F.element_at(F.col("fields").getItem(f.name), 1)["vtype"].alias("vt"))
            .first()
        )
        vt = row["vt"] if row else None
    if vt == "s" and (not f.exact) :
        raise AggregationError("aggregations failure due to fielddata disabled")
    if need_numeric and vt == "s":
        raise AggregationError("aggregations failure due to fielddata disabled")
    return vt


def _key_col(f: AggField) -> Column:
    # bucket key as string, like ES getKeyAsString
    return F.col("__v")["value"]


def aggregate(
    filtered: DataFrame,
    ap: str | list[AggFilter],
    base: DataFrame | None = None,
    fg_filter: Column | None = None,
    triples: DataFrame | None = None,
    stats: dict | None = None,
    universe_types: frozenset | None = None,
) -> list[AggResult]:
    """Run aggregations over the (already search-filtered) infoton set.

    `base` is the background universe for sig-terms (defaults to
    `filtered` itself when no wider context is supplied). `fg_filter`, when
    given, asserts `filtered == base.where(fg_filter)` and lets sig-terms
    run single-job conditional counts over the background alone.

    `triples` enables the INDEX-FIRST route: the agg field's values come
    from its pruned predicate partition (ES doc-values analog) instead of
    exploding every filtered doc's fields map — the 100 TB posture.
    Sig-terms and nested child aggregations stay on the doc route (they
    need doc-level predicates / bucket membership).

    `universe_types`: caller's assertion that `filtered` is EXACTLY the
    current, visible docs whose rdfType is in this set (a pure type
    filter — no path/dates/other qp clauses). When predicate_stats proves
    the agg field occurs ONLY on docs of those types (rdftypes coverage
    with no untyped subject), the indexed route drops its path semi-join
    entirely: one pruned partition scan IS the aggregation input. Pass
    None (default) whenever in doubt — correctness first."""
    filters = parse_ap(ap) if isinstance(ap, str) else list(ap)
    return [
        _run(filtered, f, base if base is not None else filtered, parents=None,
             fg_filter=fg_filter, triples=triples, stats=stats, ukinds=universe_types)
        for f in filters
    ]


def _run(
    df: DataFrame,
    agg: AggFilter,
    base: DataFrame,
    parents: DataFrame | None,
    fg_filter: Column | None = None,
    triples: DataFrame | None = None,
    stats: dict | None = None,
    ukinds: frozenset | None = None,
) -> AggResult:
    if isinstance(agg, TermAgg):
        return _term(df, agg, base, triples, stats, ukinds)
    if isinstance(agg, StatsAgg):
        return _stats(df, agg, triples, stats, ukinds)
    if isinstance(agg, HistAgg):
        return _hist(df, agg, base, triples, stats, ukinds)
    if isinstance(agg, SigAgg):
        return _sig(df, agg, base, fg_filter, triples=triples, stats=stats)
    if isinstance(agg, CardAgg):
        return _card(df, agg, triples=triples, stats=stats, ukinds=ukinds)
    raise AggregationError(f"unknown aggregation {agg}")


def _term(
    df: DataFrame, agg: TermAgg, base: DataFrame,
    triples: DataFrame | None = None, stats: dict | None = None,
    ukinds: frozenset | None = None,
) -> AggResult:
    use_t = triples if _use_indexed(agg.field, triples, stats) else None
    _guard_text(df, agg.field, triples=use_t, stats=stats)
    ex = _exploded_any(df, agg.field, triples, stats, ukinds)
    counts = ex.groupBy(_key_col(agg.field).alias("key")).agg(F.count("*").alias("objects"))
    top = counts.orderBy(F.desc("objects"), F.asc("key")).limit(agg.size)
    subs = []
    if agg.subs:
        # keep per-bucket membership for children: (key, path)
        membership = restrict(
            ex.select(_key_col(agg.field).alias("key"), "path"),
            "key",
            export_path_bound(top.select("key"), agg.size),
        )
        src = df.join(membership, "path").select("key", *df.columns)
        for sub in agg.subs:
            subs.append(_run_grouped_flat(src, sub, ["key"]))
    return AggResult(agg, top, subs)


def _stats(
    df: DataFrame, agg: StatsAgg,
    triples: DataFrame | None = None, stats: dict | None = None,
    ukinds: frozenset | None = None,
) -> AggResult:
    use_t = triples if _use_indexed(agg.field, triples, stats) else None
    _guard_text(df, agg.field, need_numeric=True, triples=use_t, stats=stats)
    ex = _exploded_any(df, agg.field, triples, stats, ukinds)
    num = F.col("__v")["num"]
    out = ex.agg(
        F.count(num).alias("count"),
        F.min(num).alias("min"),
        F.max(num).alias("max"),
        F.avg(num).alias("avg"),
        F.sum(num).alias("sum"),
    )
    return AggResult(agg, out, [])


def _fill_buckets(counts: DataFrame, agg: HistAgg) -> DataFrame:
    """Bucket-range fill: ES returns every bucket between the min and max
    observed key (and extended bounds) when minDocCount == 0. Every
    bucket it adds has 0 objects, so a minDocCount of 1 or more drops
    them all and skips the fill. The bounds stay INSIDE the plan — a 1-row
    agg frame exploded with sequence() — so the whole histogram is one job
    instead of a driver bounds round-trip first (VERDICT r4 item 6)."""
    import math

    lo_col, hi_col = F.col("lo"), F.col("hi")
    if agg.ext_min is not None:
        lo_col = F.least(lo_col, F.lit(math.floor(agg.ext_min / agg.interval) * agg.interval))
    if agg.ext_max is not None:
        hi_col = F.greatest(hi_col, F.lit(math.floor(agg.ext_max / agg.interval) * agg.interval))
    rng = (
        counts.agg(F.min("key").alias("lo"), F.max("key").alias("hi"))
        .where(F.col("lo").isNotNull())
        .select(
            lo_col.alias("__lo"),
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"),
                    F.round((hi_col - lo_col) / agg.interval, 0).cast("long"),
                )
            ).alias("__i"),
        )
        .select((F.col("__lo") + F.col("__i") * agg.interval).alias("key"))
    )
    return (
        rng.join(counts, "key", "left")
        .select("key", F.coalesce("objects", F.lit(0)).alias("objects"))
    )


def _hist(
    df: DataFrame, agg: HistAgg, base: DataFrame,
    triples: DataFrame | None = None, stats: dict | None = None,
    ukinds: frozenset | None = None,
) -> AggResult:
    use_t = triples if _use_indexed(agg.field, triples, stats) else None
    _guard_text(df, agg.field, need_numeric=True, triples=use_t, stats=stats)
    ex = _exploded_any(df, agg.field, triples, stats, ukinds)
    num = F.col("__v")["num"]
    key = (F.floor(num / agg.interval) * agg.interval).cast("double")
    counts = ex.groupBy(key.alias("key")).agg(F.count("*").alias("objects"))
    if agg.min_doc_count < 1:
        counts = _fill_buckets(counts, agg)
    counts = counts.where(F.col("objects") >= agg.min_doc_count).orderBy("key")
    subs = []
    if agg.subs:
        membership = ex.select(key.alias("key"), "path")
        src = df.join(membership, "path").select("key", *df.columns)
        for sub in agg.subs:
            subs.append(_run_grouped_flat(src, sub, ["key"]))
    return AggResult(agg, counts, subs)


def _sig(
    df: DataFrame, agg: SigAgg, base: DataFrame, fg_filter: Column | None = None,
    triples: DataFrame | None = None, stats: dict | None = None,
) -> AggResult:
    """Significant terms (A4): JLH-like score
    (fgPct/bgPct) * (fgPct - bgPct), foreground = filtered set, background =
    whole visible set or backgroundTerm-filtered set
    (FTSService.scala:991-997; ES JLH heuristic).

    When the caller can express the foreground as a predicate over the
    background (`fg_filter`), the whole aggregation runs as conditional
    counts over TWO scans of the background (one exploded for per-key
    counts, one narrow for totals) in a single Spark job — the general
    two-DataFrame path needs four."""
    # stats answer the vtype guard without the per-construction probe job
    # the stats-less path pays (df.first() over the doc table)
    _guard_text(df, agg.field, triples=triples, stats=stats)
    bg_df = base
    if agg.background_term is not None:
        k, v = agg.background_term
        vals = F.col("fields").getItem(k)
        bg_df = base.where(F.coalesce(F.exists(vals, lambda x: x["value"] == F.lit(v)), F.lit(False)))
    if fg_filter is not None:
        is_fg = F.coalesce(fg_filter, F.lit(False))
        totals = bg_df.agg(
            F.count(F.when(is_fg, F.lit(1))).alias("fg_n"), F.count(F.lit(1)).alias("bg_n")
        )
        per_key = (
            _exploded(bg_df, agg.field, extra=[is_fg.alias("__fg")])
            .groupBy(_key_col(agg.field).alias("key"))
            .agg(
                F.countDistinct(F.when(F.col("__fg"), F.col("path"))).alias("objects"),
                F.countDistinct("path").alias("bg_count"),
            )
        )
        # fg_n == 0 would make every fg_pct a 0/0 ANSI error; an empty
        # foreground means an empty result (same contract as the
        # fg_counts-empty path below)
        j = per_key.crossJoin(F.broadcast(totals)).where(
            (F.col("bg_n") > 0) & (F.col("fg_n") > 0)
        )
        fg_pct = F.col("objects") / F.col("fg_n").cast("double")
        bg_pct = F.col("bg_count") / F.col("bg_n").cast("double")
        scored = j.withColumn("score", (fg_pct / bg_pct) * (fg_pct - bg_pct))
        scored = scored.where((F.col("objects") >= agg.min_doc_count) & (F.col("score") > 0))
        top = (
            scored.orderBy(F.desc("score"), F.asc("key"))
            .limit(agg.size)
            .select("key", "objects", "bg_count", "score")
        )
        return AggResult(agg, top, [])
    # fg/bg totals ride along as a broadcast 1x1 cross join instead of two
    # separate .count() actions — the whole aggregation is ONE Spark job
    # (VERDICT r1 minor finding; fg empty => fg_counts empty => empty out)
    totals = df.agg(F.count(F.lit(1)).alias("fg_n")).crossJoin(
        bg_df.agg(F.count(F.lit(1)).alias("bg_n"))
    )
    fg_counts = (
        _exploded(df, agg.field)
        .groupBy(_key_col(agg.field).alias("key"))
        .agg(F.countDistinct("path").alias("objects"))
    )
    bg_counts = (
        _exploded(bg_df, agg.field)
        .groupBy(_key_col(agg.field).alias("key"))
        .agg(F.countDistinct("path").alias("bg_count"))
    )
    j = (
        fg_counts.join(bg_counts, "key", "left")
        .select(
            "key",
            "objects",
            F.coalesce(F.greatest("bg_count", "objects"), F.col("objects")).alias("bg_count"),
        )
        .crossJoin(F.broadcast(totals))
        .where(F.col("bg_n") > 0)
    )
    fg_pct = F.col("objects") / F.col("fg_n").cast("double")
    bg_pct = F.col("bg_count") / F.col("bg_n").cast("double")
    scored = j.withColumn("score", (fg_pct / bg_pct) * (fg_pct - bg_pct))
    scored = scored.where((F.col("objects") >= agg.min_doc_count) & (F.col("score") > 0))
    top = (
        scored.orderBy(F.desc("score"), F.asc("key"))
        .limit(agg.size)
        .select("key", "objects", "bg_count", "score")
    )
    return AggResult(agg, top, [])


def _card(
    df: DataFrame, agg: CardAgg, exact: bool = False,
    triples: DataFrame | None = None, stats: dict | None = None,
    ukinds: frozenset | None = None,
) -> AggResult:
    ex = _exploded_any(df, agg.field, triples, stats, ukinds)
    if exact:
        out = ex.agg(F.countDistinct(_key_col(agg.field)).alias("count"))
    else:
        rsd = 0.01 if (agg.precision_threshold or 0) >= 10_000 else 0.05
        out = ex.agg(F.approx_count_distinct(_key_col(agg.field), rsd).alias("count"))
    return AggResult(agg, out, [])


def card_exact(
    df: DataFrame, field_name: str,
    triples: DataFrame | None = None, stats: dict | None = None,
    universe_types: frozenset | None = None,
) -> DataFrame:
    """Exact-distinct variant of A5 (oracle-checkable; the approximate HLL
    path is the reference-faithful default). `universe_types` carries the
    same join-elision proof as aggregate()'s parameter."""
    agg = CardAgg(AggField(field_name, True))
    return _card(df, agg, exact=True, triples=triples, stats=stats, ukinds=universe_types).df


def _run_grouped_flat(src_with_key: DataFrame, sub: AggFilter, key_cols: list[str]) -> AggResult:
    """Evaluate a child aggregation grouped by the parent bucket key columns
    already attached to `src_with_key`."""
    f = sub.field
    vals = F.col("fields").getItem(f.name)
    ex = src_with_key.where(vals.isNotNull() & (F.size(vals) > 0)).select(
        *key_cols, "path", F.explode(vals).alias("__v")
    )
    if isinstance(sub, TermAgg):
        counts = ex.groupBy(*key_cols, F.col("__v")["value"].alias("key2")).agg(F.count("*").alias("objects"))
        w = Window.partitionBy(*key_cols).orderBy(F.desc("objects"), F.asc("key2"))
        top = counts.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") <= sub.size).drop("__rn")
        return AggResult(sub, top.orderBy(*key_cols, F.desc("objects"), F.asc("key2")), [])
    if isinstance(sub, StatsAgg):
        num = F.col("__v")["num"]
        out = ex.groupBy(*key_cols).agg(
            F.count(num).alias("count"),
            F.min(num).alias("min"),
            F.max(num).alias("max"),
            F.avg(num).alias("avg"),
            F.sum(num).alias("sum"),
        )
        return AggResult(sub, out.orderBy(*key_cols), [])
    if isinstance(sub, CardAgg):
        out = ex.groupBy(*key_cols).agg(F.approx_count_distinct(F.col("__v")["value"]).alias("count"))
        return AggResult(sub, out.orderBy(*key_cols), [])
    if isinstance(sub, HistAgg):
        num = F.col("__v")["num"]
        key = (F.floor(num / sub.interval) * sub.interval).cast("double")
        counts = ex.groupBy(*key_cols, key.alias("key2")).agg(F.count("*").alias("objects"))
        counts = counts.where(F.col("objects") >= sub.min_doc_count)
        return AggResult(sub, counts.orderBy(*key_cols, "key2"), [])
    raise AggregationError(f"unsupported nested aggregation {type(sub).__name__}")


# ---------------------------------------------------------------------------
# gap-based session windows (events table; batch twin of the streaming form)
# ---------------------------------------------------------------------------


def session_window_agg(
    events: DataFrame,
    gap: str = "30 minutes",
    key: str = "user_id",
    ts_col: str = "ts",
    val_col: str = "value",
) -> DataFrame:
    """Per-key gap-based sessionization via the built-in
    `F.session_window` (merge while next.ts < last.ts + gap; session end =
    last event + gap). One shuffle on (key, overlapping-window), partial
    merge map-side — the same expression runs under readStream with a
    watermark for the streaming form, so batch backfill and live
    sessionization share one definition."""
    w = F.session_window(F.col(ts_col), gap)
    return (
        events.groupBy(F.col(key), w)
        .agg(F.count("*").alias("n_events"), F.round(F.sum(val_col), 2).alias("sum_value"))
        .select(
            key,
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
            F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def trending_topk(
    ev: DataFrame,
    k: int = 3,
    window: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Top-k keys per tumbling window by event count -> (window_start,
    event_type, n_events, rank): the "trending now" rollup — per-hour
    hottest event types, the windowed form of the term agg (A1) and the
    batch twin of streaming_trending_topk.

    Plan: ONE windowed groupBy count (partial-aggregated map-side), then
    a row_number window PARTITIONED BY the time window — the rank only
    ever sorts the per-window key counts (bounded by key cardinality),
    never the raw events, and partitions align with the groupBy's
    shuffle. Ties break toward the smaller key so the cut is
    deterministic and engine-replayable."""
    from pyspark.sql import Window

    counts = ev.groupBy(F.window(ts_col, window).alias("w"), key_col).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    rk = Window.partitionBy("w").orderBy(F.desc("n_events"), F.asc(key_col))
    return (
        counts.withColumn("rank", F.row_number().over(rk))
        .where(F.col("rank") <= k)
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:00").alias("window_start"),
            key_col,
            "n_events",
            "rank",
        )
    )


def rollup_metrics(
    df: DataFrame,
    dims: list[str],
    value_col: str,
) -> DataFrame:
    """Hierarchical subtotal rollup -> one row per prefix of `dims`
    (plus the grand total): (dims..., gid, n, total) where coarser
    levels carry NULL in the rolled-away dimensions and `gid` is
    Spark's grouping_id bitmask (0 = most detailed, each rolled-up dim
    sets its bit) — the OLAP drill-down/subtotal report the reference's
    flat term/stats aggs (A1/A2) don't express in one pass.

    Plan: df.rollup(...) compiles to ONE Expand + ONE hash aggregate —
    every grouping set is produced in a single scan + single shuffle
    (Expand replicates each input row once per level BEFORE the partial
    aggregate, so the exchange carries len(dims)+1 partially-reduced
    streams, not len(dims)+1 scans). `gid` also disambiguates a real
    NULL dim value from a rolled-up one — the standard GROUPING()
    hazard."""
    return (
        df.rollup(*dims)
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum(value_col), 6).alias("total"),
        )
        .select(*dims, "gid", "n", "total")
    )


def pivot_counts(
    df: DataFrame,
    row_dim: str,
    pivot_dim: str,
    pivot_values: list[str],
) -> DataFrame:
    """Cross-tab -> one row per `row_dim` value with one count column
    per EXPLICIT `pivot_dim` value (missing combinations 0, not NULL) —
    the wide contingency table (status-by-priority, lang-by-source)
    downstream report tools want.

    Plan: the explicit value list is the scale contract —
    groupBy().pivot(col, values) with values given compiles to ONE
    hash aggregate with |values| conditional counts (no
    distinct-value pre-scan job, which is what pivot() without values
    runs, and no second pass); column explosion is bounded by the
    caller's list, and the output relation is |row_dim| rows.

    Output columns are n_{value.lower()} — case-differing pivot values
    would collide into duplicate column names, so the value list is
    validated up front (ADVICE r9)."""
    lowered = [v.lower() for v in pivot_values]
    if len(set(lowered)) != len(lowered):
        dupes = sorted({v for v in lowered if lowered.count(v) > 1})
        raise ValueError(
            f"pivot_values collide case-insensitively under n_{{value.lower()}} "
            f"column naming: {dupes}"
        )
    out = df.groupBy(row_dim).pivot(pivot_dim, pivot_values).count()
    return out.select(
        row_dim,
        *[F.coalesce(F.col(v), F.lit(0)).cast("long").alias(f"n_{v.lower()}") for v in pivot_values],
    )


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_count: int = 2,
) -> DataFrame:
    """Pairwise association rules -> (a, b, support_count, confidence_ab,
    confidence_ba, lift) over (basket, item) co-membership — the
    market-basket/co-recommendation primitive (Agrawal & Srikant 1994,
    restricted to the 2-itemset level, which is where real-world lift
    ranking happens anyway).

    Plan: distinct (basket, item) membership, then pair enumeration via
    ONE self-equi-join on the basket key with `a < b` orientation —
    candidate work per basket is bounded by the basket's size squared
    (baskets are small by data contract; a degenerate giant basket is
    the hub-key skew every basket miner caps upstream). Pair counts and
    item counts are two keyed aggregates; the basket total rides in as
    a one-row broadcast cross join. `min_pair_count` prunes the long
    tail BEFORE the two item-count joins, so the stats attach to the
    surviving pairs only. Lift > 1 = co-occurrence above independence;
    6dp rounding keeps it engine-replayable."""
    # NOT persisted (r11 experiment, rejected with numbers): the four
    # consumers look like re-derivation, but ReuseExchange already
    # dedupes the self-join's identical distinct subtrees; a lazy
    # persist forced four separate in-memory scans and measured
    # 5.5 -> 20.4 s at sf1 (2.0 -> 2.8 at sf0.1)
    m = df.select(
        F.col(basket_col).alias("__bkt"), F.col(item_col).alias("__item")
    ).distinct()
    x, y = m.alias("x"), m.alias("y")
    pairs = (
        x.join(y, (F.col("x.__bkt") == F.col("y.__bkt")) & (F.col("x.__item") < F.col("y.__item")))
        .groupBy(F.col("x.__item").alias("a"), F.col("y.__item").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("support_count"))
        .where(F.col("support_count") >= min_pair_count)
    )
    items = m.groupBy(F.col("__item")).agg(F.count(F.lit(1)).cast("long").alias("__n"))
    total = m.select(F.count_distinct("__bkt").alias("__total"))
    na = items.select(F.col("__item").alias("a"), F.col("__n").alias("__na"))
    nb = items.select(F.col("__item").alias("b"), F.col("__n").alias("__nb"))
    return (
        pairs.join(na, "a")
        .join(nb, "b")
        .crossJoin(F.broadcast(total))
        .select(
            "a",
            "b",
            "support_count",
            F.round(F.col("support_count") / F.col("__na"), 6).alias("confidence_ab"),
            F.round(F.col("support_count") / F.col("__nb"), 6).alias("confidence_ba"),
            F.round(
                F.col("support_count") * F.col("__total")
                / (F.col("__na") * F.col("__nb")).cast("double"),
                6,
            ).alias("lift"),
        )
    )


def rfm_segments(
    orders: DataFrame,
    n_bins: int = 5,
    key_col: str = "o_custkey",
    ts_col: str = "o_orderdate",
    value_col: str = "o_totalprice",
) -> DataFrame:
    """RFM segmentation -> (key, recency_days, frequency, monetary,
    r, f, m): every ordering entity scored 1..n_bins on recency (days
    since last order, measured from the corpus max date so the result
    is replayable), frequency, and monetary value — the classic
    customer-value grid, and for corpus work the freshness/volume/size
    triage of sources.

    Plan: ONE keyed aggregate reduces the fact table to one row per
    entity; the three ntile windows then run over that REDUCED relation
    — the single global sort in this module, bounded by entity
    cardinality, not fact volume (the standard exact-quantile contract;
    swap in approx-percentile boundaries when even the entity relation
    is too big to sort). Each window orders best-first with the entity
    key as tiebreak, so bucket edges are deterministic in both engines
    (ntile semantics — equal buckets, remainder to the front — agree
    across engines given a total order)."""
    ref = orders.select(F.max(F.col(ts_col).cast("timestamp")).alias("__ref"))
    per = (
        orders.groupBy(key_col)
        .agg(
            F.max(F.col(ts_col).cast("timestamp")).alias("__last"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.round(F.sum(value_col), 6).alias("monetary"),
        )
        .crossJoin(F.broadcast(ref))
        .withColumn(
            "recency_days",
            F.floor(
                (F.unix_timestamp("__ref") - F.unix_timestamp("__last")) / 86400
            ).cast("long"),
        )
    )
    r_w = Window.orderBy(F.asc("recency_days"), F.asc(key_col))
    f_w = Window.orderBy(F.desc("frequency"), F.asc(key_col))
    m_w = Window.orderBy(F.desc("monetary"), F.asc(key_col))
    return per.select(
        key_col,
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(n_bins).over(r_w).cast("long").alias("r"),
        F.ntile(n_bins).over(f_w).cast("long").alias("f"),
        F.ntile(n_bins).over(m_w).cast("long").alias("m"),
    )


def topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    k: int,
    descending: bool = True,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Exact top-k rows per group -> the input rows plus `rank` — the
    "3 best per category" workhorse, written the ONE way Spark can
    execute it without materializing whole groups: row_number over the
    group window filtered against a LITERAL k, which triggers
    InferWindowGroupLimit — a partial per-partition top-k runs BEFORE
    the shuffle, so each map task forwards at most k rows per group
    instead of the group's full contents (the two-phase top-k the
    RDD-era code hand-wrote with treeAggregate; check for
    WindowGroupLimit in the plan).

    `tiebreak_cols` complete the ordering to a total order —
    without one, rank (hence the cut) is nondeterministic across
    shuffles and engines."""
    ords = [F.desc(order_col) if descending else F.asc(order_col)]
    ords += [F.asc(c) for c in (tiebreak_cols or [])]
    w = Window.partitionBy(*group_cols).orderBy(*ords)
    return (
        df.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= int(k))
    )


def abc_analysis(
    df: DataFrame,
    key_col: str,
    value_col: str,
    a_cut: float = 0.8,
    b_cut: float = 0.95,
) -> DataFrame:
    """Pareto/ABC classification -> (key, total, cum_share, abc_class):
    entities ranked by value contribution, classified A while the
    running share is within `a_cut` of the grand total, B to `b_cut`,
    else C — the 80/20 inventory/revenue-concentration report, and for
    corpora the "which sources carry the volume" triage.

    Plan: ONE keyed aggregate reduces facts to a per-entity row; the
    running-share window orders that REDUCED relation (the documented
    bounded global sort, same contract as rfm_segments). Class
    boundaries use the share BEFORE the current row, so the entity that
    crosses a cut still belongs to the class it completes — the
    standard convention that keeps class A non-empty for any cut."""
    per = df.groupBy(key_col).agg(F.round(F.sum(value_col), 6).alias("total"))
    cum = Window.orderBy(F.desc("total"), F.asc(key_col)).rowsBetween(
        Window.unboundedPreceding, -1
    )
    grand = Window.partitionBy()
    before = F.coalesce(F.sum("total").over(cum), F.lit(0.0))
    out = per.select(
        key_col,
        "total",
        ((before + F.col("total")) / F.sum("total").over(grand)).alias("__share"),
        (before / F.sum("total").over(grand)).alias("__before"),
    )
    cls = (
        F.when(F.col("__before") < a_cut, "A")
        .when(F.col("__before") < b_cut, "B")
        .otherwise("C")
    )
    return out.select(
        key_col,
        "total",
        F.round("__share", 6).alias("cum_share"),
        cls.alias("abc_class"),
    )


def gini_coefficient(
    df: DataFrame, key_col: str, weight_col: str | None = None
) -> DataFrame:
    """Concentration of activity -> ONE row (gini, n_entities, total):
    the Gini coefficient of per-entity counts (or `weight_col` sums) —
    0 = perfectly even, ->1 = one entity owns everything. The
    inequality lens on corpus health: a crawl where one source emits
    90% of documents, a user table where three bots generate the
    traffic.

    Plan: ONE keyed aggregate reduces to per-entity totals; the exact
    rank-sum formula G = 2*Σ(i*x_i)/(n*Σx) - (n+1)/n runs over that
    REDUCED relation with one ordered window (ties broken by key —
    any total order over equal values yields the same G, the key just
    makes the plan deterministic)."""
    from pyspark.sql import Window

    w_expr = F.count(F.lit(1)) if weight_col is None else F.sum(weight_col)
    per = df.groupBy(key_col).agg(w_expr.cast("double").alias("x"))
    rk = Window.orderBy(F.asc("x"), F.asc(key_col))
    ranked = per.select("x", F.row_number().over(rk).cast("double").alias("i"))
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_entities"),
        F.sum("x").alias("__sx"),
        F.sum(F.col("i") * F.col("x")).alias("__six"),
    )
    n = F.col("n_entities").cast("double")
    g = F.when(
        (F.col("n_entities") > 0) & (F.col("__sx") > 0),
        2.0 * F.col("__six") / (n * F.col("__sx")) - (n + 1.0) / n,
    )
    return agg.select(
        F.round(g, 6).alias("gini"),
        "n_entities",
        F.round("__sx", 6).alias("total"),
    )
