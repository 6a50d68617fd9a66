"""Search — the workhorse query (reference lifecycle SURVEY.md §3.1).

op=search/read/list over the infoton doc table: path filter + qp field
filters + dates filter + history/deleted visibility + sort + paging +
fields mask, all as ONE declarative DataFrame plan (the reference needs a
parse->resolve->ES-request->post-process pipeline across two process
boundaries; here Catalyst owns the whole plan and pushes filters into the
parquet scan).

Semantics sources:
  path filter        FTSService.scala:856-864 (parent / parent_hierarchy)
  dates filter       FTSService.scala:866-871
  visibility         FTSService.scala:850-854 (current, !DeletedInfoton)
  paging guards      Application.scala:2142-2145 (offset<=1000, length<=10000)
  fields mask (F7)   Infoton.masked:215-218
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cm_well_spark.parsers.qp import FieldFilter, parse_qp
from cm_well_spark.parsers.sort import DEFAULT_SORT, SortKey, parse_sort_by
from cm_well_spark.plans.compile import SYSTEM_COLUMNS, compile_filter
from cm_well_spark.plans.iterative import iter_checkpoint
from cm_well_spark.plans.keyset import export_path_bound, proven_path_bound, restrict

MAX_OFFSET = 1_000
MAX_LENGTH = 10_000


@dataclass(frozen=True)
class PathFilter:
    """PathFilter(path, descendants) — FTSService.scala:1839."""

    path: str
    descendants: bool = False


def snapshot_at(infotons: DataFrame, ts) -> DataFrame:
    """Time-travel read: the store as `current` stood at time `ts` — per
    path, the latest version with last_modified <= ts, minus paths whose
    snapshot head is a deletion tombstone. The history rows ARE the
    snapshot index (SURVEY §1.4: history = all rows), so this is one
    per-path window over the time-filtered scan; at 100 TB the
    last_modified predicate prunes row groups before the window runs."""
    from pyspark.sql import Window

    w = Window.partitionBy("path").orderBy(F.desc("last_modified"), F.desc("index_time"))
    past = infotons.where(F.col("last_modified") <= F.lit(ts))
    head = past.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")
    return head.where(F.col("kind") != "DeletedInfoton")


def visibility_filter(with_history: bool = False, with_deleted: bool = False) -> Column:
    cond = F.lit(True)
    if not with_history:
        cond = cond & (F.col("current") == True)  # noqa: E712
    if not with_history and not with_deleted:
        cond = cond & (F.col("kind") != "DeletedInfoton")
    return cond


def path_filter_col(pf: PathFilter) -> Column:
    if pf.path == "/":
        return (F.col("parent") == "/") if not pf.descendants else F.lit(True)
    if pf.descendants:
        return F.array_contains(F.col("parent_hierarchy"), pf.path) | (F.col("parent") == pf.path)
    return F.col("parent") == pf.path


def _sort_exprs(keys: tuple[SortKey, ...]) -> list[Column]:
    exprs: list[Column] = []
    for k in keys:
        if k.field == "system.score":
            # BM25 relevance, computed as __score by search() from the
            # query's analyzed clauses + one corpus-stats aggregate
            # (functions/scoring.py; FTSService:302-314 / Lucene analog).
            # `-system.score` = best-first, like any other sort field.
            exprs.append(F.col("__score").desc_nulls_last() if k.desc else F.col("__score").asc_nulls_last())
            continue
        if k.field in SYSTEM_COLUMNS:
            cols: list[Column] = [F.col(SYSTEM_COLUMNS[k.field])]
        else:
            first = F.element_at(F.col("fields").getItem(k.field), 1)
            # typed shadows first so numeric/date fields sort type-correctly
            # (ES sorts on the typed index field; strings on `.%exact`)
            cols = [first["num"], first["ts"], first["value"]]
        exprs.extend(c.desc_nulls_last() if k.desc else c.asc_nulls_last() for c in cols)
    exprs.append(F.col("path").asc())  # total order for deterministic paging
    return exprs


def search(
    infotons: DataFrame,
    path_filter: PathFilter | None = None,
    qp: str | FieldFilter | None = None,
    dates_from: datetime | None = None,
    dates_to: datetime | None = None,
    sort_by: str | tuple[SortKey, ...] | None = None,
    offset: int = 0,
    length: int = 100,
    with_history: bool = False,
    with_deleted: bool = False,
    fields_mask: list[str] | None = None,
    enforce_limits: bool = True,
    triples: DataFrame | None = None,
    keep_score: bool = False,
    stats: dict | None = None,
) -> DataFrame:
    """One declarative plan for the full search surface. Returns infoton rows.

    When `triples` is supplied, qp field filters execute INDEX-FIRST: the
    predicate-partitioned triples table computes the candidate path set
    (narrow pruned scans — the ES-index analog, SURVEY §3.1 steps 4-6),
    then the doc table hydrates only candidates. Without it, filters
    compile directly over the doc table's fields map."""
    if enforce_limits and length is not None:
        if offset > MAX_OFFSET:
            raise ValueError(f"offset is limited to {MAX_OFFSET}")
        if length > MAX_LENGTH:
            raise ValueError(f"length is limited to {MAX_LENGTH}")

    proven_bound: int | None = None  # rows upper bound, exported on the result
    df = infotons.where(visibility_filter(with_history, with_deleted))
    if path_filter is not None:
        df = df.where(path_filter_col(path_filter))
    if dates_from is not None:
        df = df.where(F.col("last_modified") >= F.lit(dates_from))
    if dates_to is not None:
        df = df.where(F.col("last_modified") <= F.lit(dates_to))
    base_df = df  # pre-qp universe: the BM25 corpus for score sorts
    if qp is not None:
        ff = parse_qp(qp) if isinstance(qp, str) else qp
        if triples is not None:
            ff = resolve_quad_aliases(ff, triples)
        if triples is not None and not with_history:
            from cm_well_spark.plans.index_route import index_search_paths

            paths, residual, bound = index_search_paths(triples, ff, stats)
            if paths is not None:
                # The candidate set's bound is predicate_stats' proof when
                # there is one (r11): candidates are a subset of each
                # filtered predicate's subjects, so no extra job. Without
                # it restrict pays one counted checkpoint and exports the
                # count on `paths`. Either way a bounded set broadcasts:
                # AQE would convert the SMJ only AFTER the doc side has
                # shuffled its wide fields-map rows (measured 10+s at sf1
                # for 8.9M docs vs ~2s broadcast).
                df = restrict(df, "path", paths)
                proven_bound = bound if bound is not None else proven_path_bound(paths)
                if residual is not None:
                    df = df.where(residual)
            else:
                df = df.where(residual if residual is not None else compile_filter(ff))
        else:
            df = df.where(compile_filter(ff))

    # Export mode (length=None, no explicit sort) skips the sort entirely:
    # an unbounded orderBy would force a full shuffle-sort that downstream
    # consumers (aggregations, traversal seeds, streams) don't need. With
    # paging, orderBy+limit plans as TakeOrderedAndProject (no full sort).
    if length is None and sort_by is None:
        if fields_mask is not None:
            df = df.withColumn("fields", F.map_filter(F.col("fields"), lambda k, v: k.isin(*fields_mask)))
        if proven_bound is not None:
            # export the proven row bound for downstream strategy choices
            # (traversal seed broadcasts — zero extra jobs there); current
            # visibility means <=1 row per candidate path. Strategy only:
            # consumers must never derive rows from it (plans/keyset.py).
            export_path_bound(df, proven_bound)
        return df

    keys = parse_sort_by(sort_by) if (sort_by is None or isinstance(sort_by, str)) else sort_by
    keys = keys or DEFAULT_SORT
    scored = any(k.field == "system.score" for k in keys)
    if scored:
        from cm_well_spark.functions.scoring import with_bm25

        ff_parsed = (parse_qp(qp) if isinstance(qp, str) else qp) if qp is not None else None
        df = with_bm25(df, base_df, ff_parsed)
    exprs = _sort_exprs(keys)
    df = df.orderBy(*exprs)

    if length is not None:
        # TopK: orderBy + offset + limit plans as one TakeOrderedAndProject
        # (per-partition heaps + merge of offset+length rows, ≤ 11k by the
        # reference's guards) — no full sort, no single-partition window
        if offset:
            df = df.offset(offset)
        df = df.limit(length)

    if scored and not keep_score:
        df = df.drop("__score")  # internal — output schema stays the infoton row
    if fields_mask is not None:
        df = df.withColumn("fields", F.map_filter(F.col("fields"), lambda k, v: k.isin(*fields_mask)))
    limit_bound = length if length is not None else None
    bounds = [b for b in (proven_bound, limit_bound) if b is not None]
    if bounds:
        export_path_bound(df, min(bounds))  # see export-mode note above
    return df


# LinkInfoton link kinds (LinkType, Infoton.scala:269-273)
LINK_PERMANENT, LINK_TEMPORARY, LINK_FORWARD = 0, 1, 2


def _is_quad_uri(v: str) -> bool:
    """The reference treats a quad value as explicit when it's a URI ref
    (FReference.isUriRef); anything else is an alias to resolve."""
    return v.startswith(("http://", "https://", "cmwell://", "/"))


def resolve_quad_aliases(ff, triples: DataFrame):
    """F8 graph-alias resolution (RawFieldFilter.eval, UnevaluatedQuadFilter
    -> getQuadUrlForAlias; registration via the `graphAlias` meta operation,
    QuadTests.scala:258): a `system.quad::<alias>` filter whose value is
    not a URI resolves through the store's graphAlias statements — the
    alias is the VALUE, the graph is its quad tag. Missing alias raises
    the reference's exact error. Each lookup is one predicate-pruned
    point scan; the filter tree is rebuilt immutably."""
    from cm_well_spark.parsers.qp import MultiFieldFilter, SingleFieldFilter

    if isinstance(ff, MultiFieldFilter):
        return MultiFieldFilter(ff.field_op, tuple(resolve_quad_aliases(f, triples) for f in ff.filters))
    if (
        isinstance(ff, SingleFieldFilter)
        and ff.name == "system.quad"
        and ff.value is not None
        and not _is_quad_uri(ff.value)
    ):
        row = (
            triples.where(F.col("current") & (F.col("p") == "graphAlias") & (F.col("o") == ff.value))
            .select("g")
            .first()
        )
        if row is None or row["g"] is None:
            raise ValueError(
                f"The alias '{ff.value}' provided for quad in search does not exist. "
                "Use explicit quad URL, or register a new alias using `graphAlias` meta operation."
            )
        return SingleFieldFilter(ff.field_op, ff.value_op, ff.name, row["g"])
    return ff


def read_path(infotons: DataFrame, path: str, follow_links: int = 0) -> DataFrame:
    """S1 point lookup: latest version at path (CRUDServiceFS.scala:129-195).

    `follow_links` > 0 resolves LinkInfoton Forward chains recursively —
    each hop is a point-pruned lookup; the bound and the "too deep
    forward link chain detected!" error match the reference
    (infotonOptionToReply recursiveCalls=30, Application.scala:2502-2517).
    Permanent/Temporary links return the link row itself (the HTTP layer
    redirects those; only Forward is transparent). Default 0 keeps the
    plain read a single-job plan — pass 30 for the reference's HTTP-layer
    default."""
    df = infotons.where((F.col("path") == path) & F.col("current"))
    if follow_links <= 0:
        return df
    seen = {path}
    hops = follow_links
    while True:
        row = df.select("kind", "link_to", "link_kind").first()
        if row is None or row["kind"] != "LinkInfoton" or row["link_kind"] != LINK_FORWARD:
            return df
        if hops <= 0 or row["link_to"] in seen:
            # cycles exhaust the budget by definition; fail fast with the
            # reference's exact error either way
            raise ValueError("too deep forward link chain detected!")
        hops -= 1
        seen.add(row["link_to"])
        df = infotons.where((F.col("path") == row["link_to"]) & F.col("current"))


def resolve_forward_links(infotons: DataFrame, max_depth: int = 30) -> DataFrame:
    """Batch twin of read_path(follow_links=...): map EVERY current
    Forward link to its final non-link target in one distributed pass —
    the 100 TB shape, where per-path recursion would be a driver loop.

    Pointer doubling: each round substitutes a link's endpoint with that
    endpoint's own endpoint, so ceil(log2(max_depth))+1 self-joins cover
    chains of max_depth (5 joins for the reference's 30-hop budget)
    instead of 30 sequential lookups. Chains still unresolved after the
    budget (deeper, or cyclic) yield resolved=NULL — the batch analog of
    the "too deep forward link chain" error.

    Returns (link_path, resolved) for every Forward link."""
    import math

    links = (
        infotons.where(
            F.col("current")
            & (F.col("kind") == "LinkInfoton")
            & (F.col("link_kind") == LINK_FORWARD)
        )
        .select(F.col("path").alias("src"), F.col("link_to").alias("dst"))
    )
    m = links.transform(iter_checkpoint)
    for _ in range(max(1, math.ceil(math.log2(max_depth + 1)))):
        stepped = (
            m.alias("a")
            .join(m.alias("b"), F.col("a.dst") == F.col("b.src"), "left")
            .select(
                F.col("a.src").alias("src"),
                F.coalesce(F.col("b.dst"), F.col("a.dst")).alias("dst"),
            )
        )
        m = stepped.transform(iter_checkpoint)
    # an endpoint that is still a link did not resolve within the budget
    still_link = links.select(F.col("src").alias("dst"))
    resolved = m.join(still_link, "dst", "left_anti").withColumnRenamed("dst", "resolved")
    unresolved = m.join(still_link, "dst", "left_semi").select(
        "src", F.lit(None).cast("string").alias("resolved")
    )
    return (
        resolved.select(F.col("src").alias("link_path"), "resolved")
        .unionByName(unresolved.select(F.col("src").alias("link_path"), "resolved"))
    )


def read_uuid(infotons: DataFrame, uuid: str) -> DataFrame:
    """S2: any version by uuid (Application.scala:501)."""
    return infotons.where(F.col("uuid") == uuid)


def batch_get(infotons: DataFrame, paths_df: DataFrame) -> DataFrame:
    """S3 `_out`: bag of infotons for a set of paths (the first column of
    `paths_df`); a bounded key set broadcasts, so the big table is never
    shuffled (CRUDServiceFS.scala:237)."""
    return restrict(infotons.where(F.col("current")), "path", paths_df)


def irretrievable_paths(infotons: DataFrame, paths_df: DataFrame) -> DataFrame:
    """S3 companion: requested paths that do not exist (anti join)."""
    keys = paths_df.select(F.col(paths_df.columns[0]).alias("path")).distinct()
    return keys.join(infotons.where(F.col("current")).select("path"), "path", "left_anti")


def list_children(infotons: DataFrame, path: str, descendants: bool = False) -> DataFrame:
    """S4: directory listing (FTSService.listChildren:198-206)."""
    return infotons.where(visibility_filter()).where(path_filter_col(PathFilter(path, descendants)))


def history(infotons: DataFrame, path: str, limit: int | None = None) -> DataFrame:
    """S5: all versions of a path ordered by time (CRUDServiceFS:197-228)."""
    df = infotons.where(F.col("path") == path).orderBy("last_modified")
    return df.limit(limit) if limit else df
