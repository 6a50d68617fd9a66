"""Materialized lakehouse: the engine's storage layer.

Mirrors the reference's dual physical layout (SURVEY.md §1.3):
  - doc-oriented `infotons` (like the ES index: one doc per version) —
    partitioned by `kind`, sorted by `path` within files so point lookups
    and path-prefix scans prune via parquet min/max stats;
  - EAV `triples` (like Cassandra data2.Infoton: uuid,quad,field,value) —
    partitioned by predicate `p`, so every bound-predicate scan (qp filter
    compile, SPARQL BGP pattern) reads exactly one predicate's files.

At 100 TB the same layout holds: `kind`/predicate are low-cardinality
partition keys; within a partition, files are sorted by path (doc table)
or by object value (triples) for min/max skipping; a very-high-cardinality
dynamic schema would hash-bucket `p` instead (documented divergence).

The materializer is cached per (sf_dir): a stamp file records the source
fingerprint; rebuilds only when sources change.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from cm_well_spark.model.builder import build_infotons
from cm_well_spark.model.schema import INFOTON_SCHEMA, stored
from cm_well_spark.plans.keyset import local_frame, restrict

#: the checkout holding the package; default home of the store and of
#: registry checkpoint dirs
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
DEFAULT_ROOT = os.environ.get("CMW_LAKEHOUSE", os.path.join(REPO_ROOT, ".lakehouse"))


def _fingerprint(sf_dir: str) -> str:
    files = sorted(os.listdir(sf_dir))
    sig = [(f, os.path.getmtime(os.path.join(sf_dir, f)), os.path.getsize(os.path.join(sf_dir, f))) for f in files]
    # builder-code fingerprint: a schema/builder change must invalidate the
    # materialized store, not just a source-data change
    model_dir = os.path.dirname(os.path.abspath(__file__))
    for fn in sorted(os.listdir(model_dir)):
        if fn.endswith(".py"):
            p = os.path.join(model_dir, fn)
            sig.append((f"__code__/{fn}", os.path.getmtime(p), os.path.getsize(p)))
    return json.dumps(sig)


def lakehouse_dir(sf_dir: str, root: str | None = None) -> str:
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return os.path.join(root or DEFAULT_ROOT, tag)


def triples_of(infotons: DataFrame) -> DataFrame:
    """Explode the doc table into long/EAV form — the `triples` view
    (SELECT path s, field p, value o, quad g ... LATERAL VIEW explode)."""
    e = infotons.select(
        "path",
        "index_time",
        "current",
        "kind",
        F.explode("fields").alias("p", "vals"),
    ).select(
        F.col("path").alias("s"),
        "p",
        F.explode("vals").alias("v"),
        "index_time",
        "current",
        "kind",
    )
    return e.select(
        "s",
        "p",
        F.col("v.value").alias("o"),
        F.col("v.quad").alias("g"),
        F.col("v.vtype").alias("vtype"),
        F.col("v.num").alias("num"),
        F.col("v.ts").alias("ts"),
        F.col("v.bool").alias("bool"),
        F.col("v.lang").alias("lang"),
        "index_time",
        "current",
        "kind",
    )


def rederive_triples(triples: DataFrame, docs: DataFrame, keys: Iterable | DataFrame) -> DataFrame:
    """The EAV table after the doc table changed for the subjects in
    `keys`: their rows are re-exploded from `docs` (new versions and
    recomputed `current` flags alike), every other subject's rows pass
    through an anti restriction. `keys` is anything keyset.restrict
    takes; the triples counterpart of merge.fold_versions. It serves the
    merge-on-read view and the index half of x-fix, which re-indexes
    missing rows and purges ghosts in one stroke (the purgeNotFound +
    reindex arms of fixWith, Operations.scala:200-240)."""
    kept = restrict(triples, "s", keys, anti=True)
    return kept.unionByName(triples_of(restrict(docs, "path", keys)).select(*triples.columns))


#: each store table's stored schema, derived once per process from
#: INFOTON_SCHEMA through the functions that write the tables
_STORED: dict[str, StructType] = {}


def stored_schema(spark: SparkSession, table: str) -> StructType:
    """The schema a parquet read of store table `table` ("infotons",
    "triples" or "predicate_stats") returns. The triples and stats
    layouts are the analyzed output of `triples_of` and the stats
    aggregation over an empty doc table: no job, and no copy to drift."""
    if not _STORED:
        tri = triples_of(spark.createDataFrame([], INFOTON_SCHEMA))
        _STORED.update(
            infotons=stored(INFOTON_SCHEMA, "kind"),
            triples=stored(tri.schema, "p"),
            predicate_stats=stored(_predicate_stats_frame(tri, spark).schema),
        )
    return _STORED[table]


def read_stored(spark: SparkSession, table: str, *paths: str, base_path: str | None = None) -> DataFrame:
    """Store table `table` read from `paths` (its directory, some of its
    files under `base_path`, or delta batch directories of the doc
    table) with its stored schema, so the read runs no schema-inference
    job."""
    reader = spark.read.schema(stored_schema(spark, table))
    if base_path is not None:
        reader = reader.option("basePath", base_path)
    return reader.parquet(*paths)


def collect_predicate_stats(spark: SparkSession, out: str) -> None:
    """(Re)collect per-predicate stats over the store's triples table: the
    BGP reorderer's cardinality source — the Spark analog of the
    reference's live count() per predicate
    (JenaArqExtensionsUtils.sortTriplePatternsByAmount:187-225). Called by
    the initial materialization AND by compaction, so stats stay honest
    after incremental merge batches fold in."""
    t = read_stored(spark, "triples", os.path.join(out, "triples"))
    _predicate_stats_frame(t, spark).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "predicate_stats")
    )
    _write_stats_staleness(out, 0)
    _write_stats_fingerprint(out)


def _predicate_stats_frame(t: DataFrame, spark: SparkSession) -> DataFrame:
    """The stats aggregation over a triples relation (full store or a
    predicate-pruned slice — merge_predicate_stats reuses it for new
    predicates only)."""
    base = t.groupBy("p").agg(
        F.count("*").alias("n_triples"),
        F.approx_count_distinct("o").alias("n_distinct_obj"),
        F.approx_count_distinct("s").alias("n_distinct_subj"),
        # the F9 types cache (RawFieldFilter typesCache analog) rides the
        # same one-pass aggregation: vtype codes seen per field
        F.array_sort(F.collect_set("vtype")).alias("vtypes"),
    )
    # per-predicate rdfType coverage: which entity types carry this field,
    # and whether EVERY current subject carrying it is typed. Lets a pure
    # type-filtered aggregation prove its path semi-join away
    # (aggregations `universe_types`) — the "aggregate over type X" shape.
    # Computed over distinct current (s, p) so multi-valued fields don't
    # skew, joined back so the base aggregates stay single-pass exact.
    cur = t.where(F.col("current"))
    sp = cur.select("s", "p").distinct()
    ty = cur.where(F.col("p") == "rdfType").select("s", F.col("o").alias("__ty")).distinct()
    cov = (
        sp.join(ty, "s", "left")
        .groupBy("p")
        .agg(
            F.array_sort(F.collect_set("__ty")).alias("rdftypes"),
            F.max(F.col("__ty").isNull().cast("int")).alias("has_untyped"),
        )
    )
    return base.join(cov, "p", "left")


_STATS_STALENESS = "_STATS_STALENESS.json"


def _read_stats_staleness(out: str) -> int:
    p = os.path.join(out, _STATS_STALENESS)
    if not os.path.exists(p):
        return 0
    with open(p) as fh:
        return int(json.load(fh).get("churn_rows", 0))


def _write_stats_staleness(out: str, churn_rows: int) -> None:
    with open(os.path.join(out, _STATS_STALENESS), "w") as fh:
        json.dump({"churn_rows": int(churn_rows)}, fh)


_STATS_FPR = "_STATS_FINGERPRINT.json"


def _served_store_fingerprint(out: str) -> str:
    """Metadata digest (relpath, size, mtime) of every file backing the
    SERVED triples relation — the triples dir plus any pending
    write_batch delta dir. Driver-side listing only, no data read (the
    same listing _load already pays per call for delta detection); on a
    manifest-backed table format the snapshot id plays this role."""
    import hashlib

    ents: list[str] = []
    for sub in ("triples", "infotons_delta"):
        root = os.path.join(out, sub)
        if not os.path.isdir(root):
            continue
        for dirpath, _dirs, files in os.walk(root):
            for fn in files:
                if fn.startswith((".", "_")):
                    continue
                p = os.path.join(dirpath, fn)
                st = os.stat(p)
                ents.append(
                    f"{sub}/{os.path.relpath(p, root)}|{st.st_size}|{st.st_mtime_ns}"
                )
    return hashlib.md5("\n".join(sorted(ents)).encode()).hexdigest()


def _write_stats_fingerprint(out: str) -> None:
    """Stamp predicate_stats with the store state it was computed from
    (r12, VERDICT r11 item 5): load_predicate_stats refuses to serve
    stats whose stamp no longer matches the served store — a stale
    UNDERCOUNTING stats file would otherwise license proof-path
    broadcasts (search/traversal bounds) over sets far past the cap, and
    a stale rdfType coverage could wrongly license the agg family's
    join-free route. Stale stats degrade to NO stats: every consumer
    falls back to its counted/probed path, rows identical."""
    with open(os.path.join(out, _STATS_FPR), "w") as fh:
        json.dump({"store": _served_store_fingerprint(out)}, fh)


def _read_stats_fingerprint(out: str) -> str | None:
    p = os.path.join(out, _STATS_FPR)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh).get("store")


def swap_in(tmp: str, final: str) -> None:
    """Replace directory `final` by `tmp` with two renames, so a reader
    lists the old directory or the new one, never a mix; the old one is
    parked at `final__old` in between and then removed."""
    old = final + "__old"
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(final, old)
    os.rename(tmp, final)
    shutil.rmtree(old)


def merge_predicate_stats(
    spark: SparkSession,
    out: str,
    per_p_added: dict[str, int],
    per_p_removed: dict[str, int],
    full_threshold: float = 0.02,
) -> str:
    """Threshold-ANALYZE stats maintenance for the incremental compact
    (VERDICT r9 item 7): a delta bounded by the incremental gate moves
    the reorderer's cardinalities negligibly, so a full stats pass (the
    dominant ~273 s of an sf1 compact, measured r10) is wasted work on
    every fold. Instead:
      - n_triples per predicate adjusts EXACTLY from the delta's
        added/removed row counts (driver-side merge over the bounded
        stats relation);
      - brand-new predicates get the full stats aggregation over a
        partition-pruned scan of just their p dirs (delta-sized);
      - the distinct-count sketches / type coverage of existing
        predicates stay as-is, with the cumulative un-analyzed churn
        tracked in _STATS_STALENESS.json — once it crosses
        max(100k rows, full_threshold x store), the next call runs the
        full collect_predicate_stats and resets. The standard
        auto-ANALYZE staleness contract.
    Returns "full" or "merged"."""
    stats_path = os.path.join(out, "predicate_stats")
    st = read_stored(spark, "predicate_stats", stats_path)
    rows = st.collect()  # bounded: one row per predicate
    churn = sum(per_p_added.values()) + sum(per_p_removed.values())
    total = sum(r["n_triples"] for r in rows) or 1
    if _read_stats_staleness(out) + churn > max(100_000, full_threshold * total):
        collect_predicate_stats(spark, out)
        return "full"

    known = {r["p"] for r in rows}
    adjusted = []
    for r in rows:
        d = r.asDict()
        d["n_triples"] = (
            d["n_triples"] + per_p_added.get(d["p"], 0) - per_p_removed.get(d["p"], 0)
        )
        adjusted.append(tuple(d[c] for c in st.columns))
    merged = local_frame(spark, adjusted, st.schema)
    new_ps = sorted((set(per_p_added) | set(per_p_removed)) - known)
    if new_ps:
        t = read_stored(spark, "triples", os.path.join(out, "triples")).where(
            F.col("p").isin(new_ps)  # partition-pruned: reads only the new p dirs
        )
        merged = merged.unionByName(
            _predicate_stats_frame(t, spark).select(*st.columns)
        )
    tmp = stats_path + "__staging"
    merged.coalesce(1).write.mode("overwrite").parquet(tmp)
    swap_in(tmp, stats_path)
    spark.catalog.refreshByPath(stats_path)
    _write_stats_staleness(out, _read_stats_staleness(out) + churn)
    _write_stats_fingerprint(out)
    return "merged"


def materialize(spark: SparkSession, sf_dir: str, root: str | None = None, force: bool = False) -> str:
    """Build + write the lakehouse for one scale factor; returns its dir."""
    out = lakehouse_dir(sf_dir, root)
    stamp = os.path.join(out, "_STAMP.json")
    fp = _fingerprint(sf_dir)
    if not force and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == fp:
                return out
    forget(spark, out)
    # NOTE: do NOT persist() the build — caching the wide fields-map table
    # measured 114s at sf0.1 (memory-store serialization) vs 45s to just
    # write it; triples derive from the cheap re-read of the written files.
    #
    # Shuffle discipline (r6 B8 fix, 104 s -> ~44 s at sf0.1): the ONLY
    # shuffle is the raw-table repartition inside build_infotons, taken
    # while rows are narrow columnar data. The built wide rows and the
    # 11x-exploded triples are never exchanged — both writes do a LOCAL
    # sortWithinPartitions so parquet row groups stay tightly sorted
    # (path / (p,o)) for min-max skipping, while file-level ranges
    # overlap exactly as they did under the old hash repartition (each
    # task holds a hash/path-random subset either way). A real cluster
    # gets file-level clustering from compaction/OPTIMIZE, not the
    # ingest path. (repartitionByRange measured 8x slower — sampling +
    # skewed ranges; repartitioning the BUILT rows measured ~40 s of
    # pure exchange on the triples side alone.)
    #
    # Each sort leads with the write's partition column: a partitionBy
    # write plans its own local sort on that column, and the optimizer
    # then drops an earlier sortWithinPartitions that does not start with
    # it — a bare "path" sort left most doc files unsorted.
    #
    # Driver side, the build is SQL text: one `selectExpr` per kind and
    # one over their union (about 350-550 py4j calls for the whole store);
    # the same projection built from Column calls took about 26,000 and
    # 8-16 s of a cold 4-core driver before the write's first task started.
    inf = build_infotons(spark, sf_dir)
    (
        inf.sortWithinPartitions("kind", "path")
        .write.mode("overwrite")
        .partitionBy("kind")
        .parquet(os.path.join(out, "infotons"))
    )
    infotons = read_stored(spark, "infotons", os.path.join(out, "infotons"))
    (
        triples_of(infotons)
        .sortWithinPartitions("p", "o")
        .write.mode("overwrite")
        .partitionBy("p")
        .parquet(os.path.join(out, "triples"))
    )
    collect_predicate_stats(spark, out)
    os.makedirs(out, exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(fp)
    return out


# Memoized per (session, table) so repeated queries share one DataFrame —
# with CMW_CACHE=1 the store is also persisted in memory (warm-store mode,
# the analog of the reference's hot ES page cache; BASELINE targets are
# "warm"). At 100 TB you cache the working set, not everything — partition
# pruning still does the heavy lifting there.
_DF_CACHE: dict[tuple, DataFrame] = {}


def _load(spark: SparkSession, out: str, table: str) -> DataFrame:
    # Merge-on-read awareness: a store with pending write_batch deltas
    # (model/compaction) must never serve stale current flags. The cache
    # key carries the delta count, so appending a batch naturally
    # invalidates the cached frame and compaction (which removes the
    # delta dir) flips back to the plain fast path.
    n_deltas = 0
    if table in ("infotons", "triples"):
        d = os.path.join(out, "infotons_delta")
        if os.path.isdir(d):
            n_deltas = sum(1 for b in os.listdir(d) if b.startswith("batch="))
    key = (id(spark), out, table, n_deltas)
    if key not in _DF_CACHE:
        if n_deltas and table == "infotons":
            from cm_well_spark.model.compaction import reconciled_infotons

            df = reconciled_infotons(spark, out)
        elif n_deltas and table == "triples":
            from cm_well_spark.model.compaction import reconciled_triples

            df = reconciled_triples(spark, out)
        else:
            df = read_stored(spark, table, os.path.join(out, table))
        if os.environ.get("CMW_CACHE") == "1" and _table_bytes(
            os.path.join(out, table)
        ) <= int(os.environ.get("CMW_CACHE_MAX_BYTES", str(1 << 30))):
            # size-capped warm cache (r11): persisting a store-sized table
            # is a pessimization, not a cache — the InMemoryRelation scan
            # loses the parquet layout's partition-dir and file-range
            # pruning (a p=... filter walks EVERY cached batch) and the
            # materialization itself cost 400+ s at sf1 (measured:
            # pagerank 43 s on pruned parquet vs 191-887 s against the
            # fully-cached table, idle box). Above the cap the working
            # set is whatever partition pruning carves out, exactly as on
            # a 100 TB cluster.
            df = df.persist()
        _DF_CACHE[key] = df
    return _DF_CACHE[key]


def forget(spark: SparkSession, out: str) -> None:
    """Drop every memoized frame and stats dict of store `out`
    (unpersisting cached frames) and Spark's cached file listings under
    it. Whatever rewrites or removes store files calls it: a frame
    memoized over the old files lists part files that are gone, and the
    memo key (delta count) comes back to its old value after a
    compaction."""
    for key in [k for k in _DF_CACHE if k[1] == out]:
        df = _DF_CACHE.pop(key)
        if df.is_cached:
            df.unpersist()
    for key in [k for k in _STATS_CACHE if k[1] == out]:
        del _STATS_CACHE[key]
    spark.catalog.refreshByPath(out)


def _table_bytes(path: str) -> int:
    total = 0
    for root, _d, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    return total


def load_infotons(spark: SparkSession, sf_dir: str, root: str | None = None) -> DataFrame:
    return _load(spark, materialize(spark, sf_dir, root), "infotons")


def load_triples(spark: SparkSession, sf_dir: str, root: str | None = None) -> DataFrame:
    return _load(spark, materialize(spark, sf_dir, root), "triples")


# predicate-stats memo: the stats relation is tiny (one row per predicate)
# but nearly every query CONSTRUCTION loads it — uncached that is a parquet
# read + .collect() Spark job per query build (driver-side metadata work the
# query itself never needs repeated). Keyed by the stats dir's latest file
# mtime, so collect_predicate_stats / merge_predicate_stats (which land via
# rename or overwrite) naturally invalidate it.
_STATS_CACHE: dict[tuple, dict[str, dict]] = {}


def _stats_mtime(stats_path: str) -> float:
    try:
        return max(
            os.path.getmtime(os.path.join(stats_path, f))
            for f in os.listdir(stats_path)
            if f.endswith(".parquet")
        )
    except (OSError, ValueError):
        return 0.0


def load_predicate_stats(
    spark: SparkSession, sf_dir: str, root: str | None = None
) -> dict[str, dict] | None:
    out = materialize(spark, sf_dir, root)
    stats_path = os.path.join(out, "predicate_stats")
    # Staleness guard (r12, VERDICT r11 item 5): stats stamped against a
    # store state that no longer matches (pending write_batch deltas, or
    # any out-of-band triples change the maintenance path didn't see)
    # are as good as NO stats — an undercounting snapshot must never
    # license a proof-path broadcast, and a stale rdfType coverage must
    # never license the agg join-free route. None (NOT {}: an empty dict
    # would read as "predicate never seen" and wrongly prove hop bounds
    # of 0) = every consumer takes its counted/probed fallback; the next
    # compaction or full collect re-stamps and restores the proof paths.
    fpr = _served_store_fingerprint(out)
    if _read_stats_fingerprint(out) != fpr:
        return None
    key = (id(spark), out, _stats_mtime(stats_path), fpr)
    cached = _STATS_CACHE.get(key)
    if cached is not None:
        return cached
    rows = read_stored(spark, "predicate_stats", stats_path).collect()
    _STATS_CACHE[key] = {
        r["p"]: {
            "n": r["n_triples"],
            "dobj": r["n_distinct_obj"],
            "dsubj": r["n_distinct_subj"],
            # vtype codes seen for the field (F9 types cache): lets the
            # aggregation text guard answer without a probe job
            "vtypes": list(r["vtypes"] or []),
            # entity types (rdfType values) whose docs carry the predicate;
            # None = "unknown / not total" (pre-r6 store, or some current
            # subject with this field has no rdfType) — consumers must not
            # elide joins without this proof
            "rdftypes": (
                list(r["rdftypes"])
                if "rdftypes" in r.__fields__
                and r["rdftypes"] is not None
                and r["has_untyped"] == 0
                else None
            ),
        }
        for r in rows
    }
    return _STATS_CACHE[key]
