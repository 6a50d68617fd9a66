"""Incremental write batches + compaction: the second half of the
ingest story.

The materializer (lakehouse.materialize) writes shuffle-free — local
sortWithinPartitions only, file-level clustering deliberately deferred
"to compaction, as on a real cluster". This module is that compaction,
plus the merge-on-read delta layer that makes incremental writes cheap
between compactions:

  - `write_batch` folds a command batch (W2/W3 merge semantics,
    operators/merge.py) against the reconciled store and APPENDS only
    the new version rows under `infotons_delta/batch=N/`. Nothing is
    rewritten and no EAV copy is persisted (the delta's triples are
    re-derived at read time from the batch-sized doc slice) — the write
    cost is proportional to the batch, exactly like the reference's
    imp/indexer appending to Cassandra + ES (ImpStream.scala:96-137,
    IndexerStream.scala).
  - `reconciled_infotons` / `reconciled_triples` give the merge-on-read
    view: base files' `current` flags may be stale for delta-affected
    paths (parquet is immutable — the reference instead flips
    `system.current` in ES in place, IndexerStream.scala:100-137), so
    the read recomputes `current` for the affected paths ONLY; the
    untouched bulk passes through a broadcast anti-join, shuffle-free.
    That recompute is operators/merge.fold_versions, the one version
    fold every writer shares (apply_commands, admin.overwrite, the
    incremental compact); write_batch, compact_deltas and x-fix set the
    flag through the same merge.mark_current window, so every site
    breaks an index_time tie the same way, on the higher uuid.
    Affected-path sets are batch-sized, so the reconciliation overhead
    is bounded by write volume since the last compaction — the standard
    Hudi-MoR / Iceberg-equality-delete read shape.
  - Building either view runs no Spark job. Every store read is given
    the table's stored schema (lakehouse.stored_schema), so none infers
    one. The affected paths are the deltas' `path` column, proven from
    the batch files' parquet footers (_delta_paths): their row count
    bounds the paths and their `path` min/max is the key range, which
    is all keyset.restrict needs to pick the broadcast route and the
    sargable envelope. A file without `path` statistics leaves the
    column unproven, and restrict counts it in one job instead.
  - `compact` folds the deltas into the base for good: ONE clustering
    shuffle (repartitionByRange) rewrites each table with globally
    disjoint file ranges — path-range files in the doc table, (p, o)
    ranges inside each predicate partition of the EAV table — restoring
    the min-max skipping the append-only phase eroded, bounds the file
    count, drops the delta dirs, and re-collects predicate_stats so the
    BGP reorderer plans against post-merge cardinalities.

At 100 TB: write_batch touches only batch-sized data; compact is the
scheduled maintenance job (per cold partition, off-peak) whose single
range shuffle is the clustering work ingest deferred. Readers never see
a half-compacted store: the fold is written to fresh directories and
swapped in with atomic renames.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cm_well_spark.model.lakehouse import (
    collect_predicate_stats,
    forget,
    merge_predicate_stats,
    read_stored,
    rederive_triples,
    stored_schema,
    swap_in,
    triples_of,
)
from cm_well_spark.operators.merge import decorate_versions, fold_versions, mark_current, merge_versions
from cm_well_spark.plans import keyset
from cm_well_spark.plans.keyset import export_path_bound, local_frame, restrict

_INF_DELTA = "infotons_delta"
_TRI_DELTA = "triples_delta"

def _delta_batches(out: str, name: str) -> list[str]:
    d = os.path.join(out, name)
    if not os.path.isdir(d):
        return []
    return sorted(
        os.path.join(d, b) for b in os.listdir(d) if b.startswith("batch=")
    )


def _delta_paths(deltas: DataFrame, batches: list[str]) -> DataFrame:
    """The deltas' path column as a key frame carrying the proof its
    batch footers give: their row count bounds its distinct paths, and
    their `path` min/max is its key range. A semi or anti join needs no
    distinct keys, so no job runs. A non-empty file without `path`
    statistics (parquet drops min/max past 4 KB of value) leaves the
    frame unproven: restrict then counts it."""
    files = [(lo, hi, n) for b in batches for _f, lo, hi, n in _file_col_ranges(b, "path")[""] if n]
    if any(lo is None for lo, _hi, _n in files):
        return deltas.select("path")
    envelope = (min(lo for lo, _, _ in files), max(hi for _, hi, _ in files)) if files else None
    return export_path_bound(deltas.select("path"), sum(n for _, _, n in files), envelope)


def _reconciled(spark: SparkSession, out: str) -> tuple[DataFrame, DataFrame | None]:
    """(merge-on-read doc table, delta-affected path frame or None)."""
    base = read_stored(spark, "infotons", os.path.join(out, "infotons"))
    batches = _delta_batches(out, _INF_DELTA)
    if not batches:
        return base, None
    deltas = read_stored(spark, "infotons", *batches)
    # the footer-proven frame itself goes in: its bound rides on the
    # instance, and fold_versions hands that one object to restrict
    affected = _delta_paths(deltas, batches)
    return fold_versions(base, deltas, affected), affected


def reconciled_infotons(spark: SparkSession, out: str) -> DataFrame:
    """Merge-on-read doc table: base + all delta batches, `current`
    recomputed for delta-affected paths only (merge.fold_versions; the
    untouched bulk passes through an anti restriction — a broadcast
    anti-join, zero shuffle, for a bounded affected set)."""
    return _reconciled(spark, out)[0]


def reconciled_triples(spark: SparkSession, out: str) -> DataFrame:
    """Merge-on-read EAV table: base rows for untouched subjects (their
    flags are still true) + re-derived rows for delta-affected subjects
    (index_time/current changed, so their EAV rows are re-exploded from
    the reconciled doc slice — batch-sized work)."""
    base = read_stored(spark, "triples", os.path.join(out, "triples"))
    inf, affected = _reconciled(spark, out)
    if affected is None:
        return base
    return rederive_triples(base, inf, affected)


_WATERMARK = "_WATERMARK.json"


def _read_watermark(out: str) -> int | None:
    p = os.path.join(out, _WATERMARK)
    if not os.path.exists(p):
        return None
    import json

    with open(p) as fh:
        return int(json.load(fh)["max_index_time"])


def _write_watermark(out: str, value: int) -> None:
    import json

    with open(os.path.join(out, _WATERMARK), "w") as fh:
        json.dump({"max_index_time": int(value)}, fh)


def write_batch(spark: SparkSession, out: str, commands: DataFrame) -> int:
    """Fold one command batch against the reconciled store and append
    the resulting NEW version rows as a delta. Returns the batch id.

    Write cost is O(batch), never O(store), by construction:
      - the index_time watermark comes from `_WATERMARK.json` (written
        here and by compact), not a max() scan of 8.9M+ rows — the
        aggregate runs once to seed a store that predates the file;
      - the new watermark is the delta's max index_time read from its
        parquet footers (_written_max_index_time), not a scan of it;
      - merge_versions restricts the base read once to the batch's
        path set (merge.command_paths, a bounded collect), so the
        parquet scan FILE-SKIPS on path min-max ranges (exactly what
        compaction's clustering buys) instead of scanning the store to
        feed a semi-join;
      - only merge_versions' affected-path output is decorated
        (decorate_versions — the same writer semantics as
        apply_commands) and appended; no untouched row is ever read,
        rewritten, or flag-flipped (read-side reconciliation recomputes
        `current`, compaction makes it durable)."""
    inf = reconciled_infotons(spark, out)
    base_max = _read_watermark(out)
    if base_max is None:
        base_max = inf.agg(F.max("index_time").alias("m")).first()["m"] or 0
    versions = merge_versions(inf, commands)
    # writer's best-known `current`: the last version per path IN THIS
    # BATCH (an O(batch) window). Read-side reconciliation recomputes it
    # against the whole store anyway; carrying the flag keeps the delta
    # files directly usable as a change feed (qstream tails them).
    new_rows = mark_current(decorate_versions(versions, base_max + 1))
    n = len(_delta_batches(out, _INF_DELTA))
    target = os.path.join(out, _INF_DELTA, f"batch={n}")
    new_rows.write.mode("overwrite").parquet(target)
    _write_watermark(out, _written_max_index_time(spark, target, base_max))
    return n


def _written_max_index_time(spark: SparkSession, target: str, default: int) -> int:
    """Max index_time of a freshly written delta from its parquet footers
    (no data read, no job); the aggregate runs only when some file has
    no statistics. `default` for a delta with no rows."""
    files = _file_col_ranges(target, "index_time")[""]
    if any(hi is None for _f, _lo, hi, _n in files):
        m = read_stored(spark, "infotons", target).agg(F.max("index_time").alias("m")).first()["m"]
        return default if m is None else m
    return max((hi for _f, _lo, hi, _n in files), default=default)


def compact(
    spark: SparkSession,
    out: str,
    target_rows_per_file: int = 4_000_000,
    mode: str = "auto",
) -> dict:
    """Fold deltas into the base and restore scan-optimal layout.

    mode="auto" (default) first tries the file-level incremental fold
    (compact_incremental — O(delta + affected files), VERDICT r9 item 7)
    and falls back to the full clustering shuffle when its preconditions
    don't hold (first compact, overlapping ranges, oversized delta).
    mode="full" forces the shuffle; mode="incremental" raises if the
    incremental preconditions fail.

    The full path: ONE range shuffle per table is the clustering work
    ingest deferred — repartitionByRange gives tasks disjoint key
    ranges, so the written files' parquet min-max footers are globally
    disjoint — read_point / path-prefix scans and bound-predicate (p, o)
    scans prune at the FILE level again, however many incremental
    batches accumulated. File count is bounded by target_rows_per_file.
    The fold lands in fresh directories and swaps in by atomic rename,
    so concurrent readers see either the old store or the new, never a
    mix.

    Returns {"infoton_files": n, "triple_files": n, "folded_batches": n,
    "mode": "full" | "incremental"}.
    """
    if mode in ("auto", "incremental"):
        r = compact_incremental(spark, out, target_rows_per_file)
        if r is not None:
            return r
        if mode == "incremental":
            raise ValueError(
                "incremental compaction preconditions not met (no prior full "
                "compact, overlapping file ranges, or delta beyond the "
                "affected-fraction/path caps) — run mode='full' first"
            )
    batches = _delta_batches(out, _INF_DELTA)
    inf = reconciled_infotons(spark, out)
    tri = reconciled_triples(spark, out)

    n_inf = max(1, int((inf.count() + target_rows_per_file - 1) // target_rows_per_file))
    n_tri = max(1, int((tri.count() + target_rows_per_file - 1) // target_rows_per_file))

    inf_tmp = os.path.join(out, "infotons__compacting")
    tri_tmp = os.path.join(out, "triples__compacting")
    # each sort leads with the partition column (lakehouse.materialize)
    (
        inf.repartitionByRange(n_inf, "path", "index_time")
        .sortWithinPartitions("kind", "path", "index_time")
        .write.mode("overwrite")
        .partitionBy("kind")
        .parquet(inf_tmp)
    )
    (
        tri.repartitionByRange(n_tri, "p", "o", "s")
        .sortWithinPartitions("p", "o", "s")
        .write.mode("overwrite")
        .partitionBy("p")
        .parquet(tri_tmp)
    )
    swap_in(inf_tmp, os.path.join(out, "infotons"))
    swap_in(tri_tmp, os.path.join(out, "triples"))
    for name in (_INF_DELTA, _TRI_DELTA):
        d = os.path.join(out, name)
        if os.path.isdir(d):
            shutil.rmtree(d)
    # the swap/removal invalidates listings Spark's FileStatusCache may
    # hold for these paths; a later write_batch recreates batch=0 under
    # the same name, and a stale cached listing would FILE_NOT_EXIST
    forget(spark, out)
    # rebuild the per-file subject bloom sidecars from scratch: every
    # triples file is fresh after the clustering shuffle (one extra pass
    # over written data, riding the maintenance job like the stats scan)
    bloom_root = os.path.join(out, _BLOOM_DIR)
    if os.path.isdir(bloom_root):
        shutil.rmtree(bloom_root)
    write_subject_blooms(spark, out)
    collect_predicate_stats(spark, out)
    # seed/refresh the write_batch watermark (maintenance-job cost: one
    # column scan of the fresh files)
    m = (
        read_stored(spark, "infotons", os.path.join(out, "infotons"))
        .agg(F.max("index_time").alias("m"))
        .first()["m"]
    )
    _write_watermark(out, m or 0)
    # stamp the range-clustered layout: the gate that lets the NEXT
    # compact take the incremental file-level path
    _write_compacted_marker(out)
    return {
        "infoton_files": len(_table_rel_files(os.path.join(out, "infotons"))),
        "triple_files": len(_table_rel_files(os.path.join(out, "triples"))),
        "folded_batches": len(batches),
        "mode": "full",
    }


def compact_deltas(spark: SparkSession, out: str) -> dict:
    """MINOR compaction: fold every pending delta batch into ONE batch —
    O(accumulated deltas), the base tables untouched. The maintenance
    move between major `compact` runs: merge-on-read cost grows with the
    delta FILE count (every reconciled read lists and unions all batch
    dirs), so a write-heavy window can cheaply re-bound read cost
    without paying the base rewrite. Same Hudi-minor/major split.

    Rows are preserved exactly (a qstream tail consumer sees the same
    change rows, renumbered into batch=0); the writer-side `current`
    hint is recomputed across the merged rows with the same
    mark_current write_batch uses, so the combined batch keeps the
    one-current-per-path invariant within itself. The fold lands in a
    fresh directory and swaps in by atomic rename — readers see the old
    delta set or the new, never a mix.

    Returns {"folded_batches": n, "rows": n}."""
    batches = _delta_batches(out, _INF_DELTA)
    if len(batches) <= 1:
        return {"folded_batches": 0, "rows": 0}
    merged = mark_current(read_stored(spark, "infotons", *batches))
    # mark_current keeps every row, so the footers' row counts are exact
    n_rows = sum(n for b in batches for _f, _lo, _hi, n in _file_col_ranges(b, "path")[""])
    tmp_root = os.path.join(out, f"{_INF_DELTA}__compacting")
    if os.path.exists(tmp_root):
        shutil.rmtree(tmp_root)
    merged.sortWithinPartitions("path", "index_time").write.mode("overwrite").parquet(
        os.path.join(tmp_root, "batch=0")
    )
    swap_in(tmp_root, os.path.join(out, _INF_DELTA))
    forget(spark, out)
    return {"folded_batches": len(batches), "rows": int(n_rows)}


# ---------------------------------------------------------------------------
# Incremental (file-level) major compaction — VERDICT r9 item 7
# ---------------------------------------------------------------------------

# incremental pays off only while the rewrite set is a small slice of the
# base; above this fraction of affected base files the single clustering
# shuffle of a full compact is cheaper than per-file surgery
_INCR_MAX_AFFECTED_FRACTION = 0.5
# one row per (partition value, bucket id, [lo, hi) key interval)
_INTERVALS = "__pv STRING, __bid INT, __lo STRING, __hi STRING"


def _succ(s: str) -> str:
    """Smallest string strictly greater than s (half-open interval ends)."""
    return s + "\x00"


def _file_col_ranges(table_dir: str, col: str) -> dict[str, list[tuple[str, str, str, int]]]:
    """Per partition subdir ("kind=..."/"p=..." or "" for flat), each
    parquet file's (fname, min, max, rows) for `col` from the parquet
    footer — no data read. Files with no stats map to (fname, None, None,
    rows)."""
    import pyarrow.parquet as pq

    out: dict[str, list[tuple[str, str, str, int]]] = {}
    subdirs = [d for d in os.listdir(table_dir) if "=" in d and os.path.isdir(os.path.join(table_dir, d))]
    if not subdirs:
        subdirs = [""]
    for sub in subdirs:
        d = os.path.join(table_dir, sub)
        entries = []
        for f in os.listdir(d):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(d, f)).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            lo = hi = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[col]).statistics
                if st is None or st.min is None:
                    lo = hi = None
                    break
                v_lo, v_hi = st.min, st.max
                if isinstance(v_lo, bytes):
                    v_lo, v_hi = v_lo.decode("utf-8", "replace"), v_hi.decode("utf-8", "replace")
                lo = v_lo if lo is None else min(lo, v_lo)
                hi = v_hi if hi is None else max(hi, v_hi)
            entries.append((f, lo, hi, md.num_rows))
        out[sub] = sorted(entries, key=lambda e: (e[1] is None, e[1] or ""))
    return out


def _ranges_disjoint(entries: list[tuple[str, str, str, int]]) -> bool:
    """True when the files' [lo, hi] key ranges never interleave (adjacent
    files MAY share one boundary value — repartitionByRange on a composite
    key splits mid-value). An uncompacted store (shuffle-free ingest)
    fails this and must take the full clustering shuffle first."""
    spans = [(lo, hi) for _f, lo, hi, _n in entries]
    if any(lo is None for lo, _ in spans):
        return False
    spans.sort()
    return all(h1 <= l2 for (_l1, h1), (l2, _h2) in zip(spans, spans[1:]))


def _intervals(entries: list[tuple[str, str, str, int]], affected: set[str], next_bid: int):
    """Carve the key space of one partition subdir into half-open
    intervals [start, end) — one per base file plus the gaps between
    them — so every rewritten row lands in exactly one bucket and every
    bucket's range is disjoint from every UNTOUCHED file's range.
    Returns (rows, next_bid, file_bid) where rows = [(bid, start, end)]
    covering the whole key space and file_bid maps affected fname -> bid."""
    rows: list[tuple[int, str, str | None]] = []
    file_bid: dict[str, int] = {}
    cursor = ""
    for fname, lo, hi, _n in sorted(entries, key=lambda e: e[1]):
        start = max(cursor, lo)
        if cursor < start:  # gap before this file
            rows.append((next_bid, cursor, start))
            next_bid += 1
        end = _succ(hi)
        rows.append((next_bid, start, end))
        if fname in affected:
            file_bid[fname] = next_bid
        next_bid += 1
        cursor = max(cursor, end)
    rows.append((next_bid, cursor, None))  # beyond the last file
    next_bid += 1
    return rows, next_bid, file_bid


def _write_buckets(
    df: DataFrame, part_col: str | None, tmp: str, target_rows_per_file: int, sort_keys: list[str]
) -> None:
    """One job writes every touched bucket with the disjointness
    discipline: hash repartition on __bid puts each bucket entirely in
    ONE task; partitionBy(__bid) splits the writer per bucket so a task
    holding several buckets never mixes them in a file; the within-task
    sort + maxRecordsPerFile rolling produces sequential, range-disjoint
    file splits inside each bucket."""
    n_bids = df.select("__bid").distinct().count()
    part_by = ([part_col] if part_col else []) + ["__bid"]
    (
        df.repartition(max(1, n_bids), "__bid")
        # led by the partition columns, or the write's own sort on them
        # replaces this one (lakehouse.materialize)
        .sortWithinPartitions(*part_by, *sort_keys)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", target_rows_per_file)
        .partitionBy(*part_by)
        .parquet(tmp)
    )


def _assemble(table_dir: str, tmp: str, staging: str, keep: dict[str, list[str]]) -> int:
    """Build the new table dir: hardlink every untouched file from the
    old dir, move the freshly written bucket files in (flattening the
    __bid=… level), then atomically swap. Returns the file count."""
    n = 0
    os.makedirs(staging, exist_ok=True)
    for sub, files in keep.items():
        d = os.path.join(staging, sub) if sub else staging
        os.makedirs(d, exist_ok=True)
        for f in files:
            os.link(os.path.join(table_dir, sub, f), os.path.join(d, f))
            n += 1
    if os.path.isdir(tmp):
        for root, _dirs, files in os.walk(tmp):
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                rel = os.path.relpath(root, tmp)
                # rel = "kind=X/__bid=N" or "__bid=N" — strip the bucket level
                parts = [p for p in rel.split(os.sep) if p != "." and not p.startswith("__bid=")]
                d = os.path.join(staging, *parts) if parts else staging
                os.makedirs(d, exist_ok=True)
                # a task writing several buckets emits the SAME part
                # filename in each __bid dir; flattening with the bare
                # name silently overwrote siblings (r10 parity-test
                # catch — whole buckets vanished). Prefix the bucket id
                # to keep every flattened file unique.
                bid = next(
                    (p.split("=", 1)[1] for p in rel.split(os.sep) if p.startswith("__bid=")),
                    "0",
                )
                os.rename(os.path.join(root, f), os.path.join(d, f"bid{bid}-{f}"))
                n += 1
    swap_in(staging, table_dir)
    return n


def _unescape_partition(sub: str) -> str:
    """'p=a%3Ab' -> 'a:b' (Hive/Spark %-escaped partition dir names)."""
    from urllib.parse import unquote

    return unquote(sub.split("=", 1)[1]) if "=" in sub else sub


_COMPACTED_MARKER = "_COMPACTED.json"


def _write_compacted_marker(out: str) -> None:
    import json

    with open(os.path.join(out, _COMPACTED_MARKER), "w") as fh:
        json.dump({"layout": "range-clustered"}, fh)


# ---------------------------------------------------------------------------
# Per-file subject bloom sidecars (VERDICT r10 item 3)
#
# Triples files are range-clustered on (o, s) inside each p dir, so their
# `s` footer stats are not selective: before these sidecars, incremental
# compaction found the files holding affected subjects with a FULL-STORE
# columnar scan of `s` — O(store) per maintenance fold, which at 100 TB is
# the whole point of incrementality lost. Instead, compaction writes one
# small bloom filter over the distinct subjects of each triples file
# (the Hudi bloom-index / parquet-bloom shape): fold-time hit detection
# becomes O(files x affected-paths) mmap bit probes with zero Spark jobs.
# False positives only cost an unnecessary file rewrite; false negatives
# are impossible (every written subject is inserted), so correctness is
# unchanged. Sidecars live under out/_subject_blooms/ mirroring the
# triples dir; a file with no sidecar (pre-sidecar layout) falls back to
# a columnar scan RESTRICTED to exactly those files.
# ---------------------------------------------------------------------------

_BLOOM_DIR = "_subject_blooms"
_BLOOM_MAGIC = b"CMWSB1\n"
_BLOOM_SEED2 = "cmw-subject-bloom"  # second-hash salt for double hashing
_BLOOM_BITS_PER_ROW = 10  # with k=7 -> ~0.8% false-positive rate
_BLOOM_K = 7
_U64 = (1 << 64) - 1


def _rel_under(uri: str, base: str) -> str:
    """'file:///x/base/sub/f.parquet' -> 'sub/f.parquet'."""
    return uri.split(base + os.sep, 1)[-1] if base in uri else uri


def _table_rel_files(table_dir: str) -> list[str]:
    rels = []
    for root, _dirs, files in os.walk(table_dir):
        for f in files:
            if f.endswith(".parquet"):
                rels.append(os.path.relpath(os.path.join(root, f), table_dir))
    return rels


def write_subject_blooms(
    spark: SparkSession, out: str, rel_files: list[str] | None = None
) -> int:
    """Build per-file subject blooms for the triples store (all files, or
    only `rel_files`) and write them as sidecar files. Distributed: the
    subject hashing is JVM-side xxhash64 (the probe side hashes through
    the same expressions, so build/probe agree by construction), the bit
    packing is one numpy pass per file group; only the finished bitmaps
    (~1.25 bytes per row) come back to the driver, streamed."""
    import struct

    import numpy as np
    import pandas as pd

    tri_dir = os.path.join(out, "triples")
    if rel_files is not None and not rel_files:
        return 0
    src = (
        read_stored(spark, "triples", tri_dir)
        if rel_files is None
        else read_stored(
            spark, "triples", *[os.path.join(tri_dir, f) for f in rel_files], base_path=tri_dir
        )
    )
    hashed = src.select(
        F.input_file_name().alias("__f"),
        F.xxhash64("s").alias("__h1"),
        F.xxhash64("s", F.lit(_BLOOM_SEED2)).alias("__h2"),
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        m = max(8192, n * _BLOOM_BITS_PER_ROW)
        h1 = pdf["__h1"].to_numpy(np.int64).view(np.uint64)
        h2 = pdf["__h2"].to_numpy(np.int64).view(np.uint64)
        bits = np.zeros(m, dtype=bool)
        for i in range(_BLOOM_K):
            bits[((h1 + np.uint64(i) * h2) % np.uint64(m)).astype(np.int64)] = True
        packed = np.packbits(bits, bitorder="little")
        return pd.DataFrame(
            {"file": [pdf["__f"].iloc[0]], "m": [m], "k": [_BLOOM_K], "bits": [packed.tobytes()]}
        )

    n_written = 0
    for r in (
        hashed.groupBy("__f")
        .applyInPandas(build, "file string, m long, k int, bits binary")
        .toLocalIterator()
    ):
        rel = _rel_under(r["file"], tri_dir)
        p = os.path.join(out, _BLOOM_DIR, rel + ".bloom")
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p + ".tmp", "wb") as fh:
            fh.write(_BLOOM_MAGIC)
            fh.write(struct.pack("<QI", r["m"], r["k"]))
            fh.write(r["bits"])
        os.replace(p + ".tmp", p)
        n_written += 1
    return n_written


def _subject_bloom_probe(
    out: str, rel_file: str, probes: list[tuple[int, int]]
) -> bool | None:
    """True if ANY probed subject is possibly in rel_file, False if
    definitely none are, None if the file has no sidecar. Random-access
    mmap bit tests — O(|probes| * k), independent of bloom size."""
    import mmap
    import struct

    p = os.path.join(out, _BLOOM_DIR, rel_file + ".bloom")
    if not os.path.exists(p):
        return None
    with open(p, "rb") as fh:
        if fh.read(len(_BLOOM_MAGIC)) != _BLOOM_MAGIC:
            return None
        m, k = struct.unpack("<QI", fh.read(12))
        base = len(_BLOOM_MAGIC) + 12
        mm = mmap.mmap(fh.fileno(), 0, access=mmap.ACCESS_READ)
        try:
            for h1, h2 in probes:
                for i in range(k):
                    idx = ((h1 + i * h2) & _U64) % m
                    if not (mm[base + (idx >> 3)] >> (idx & 7)) & 1:
                        break
                else:
                    return True
            return False
        finally:
            mm.close()


def _subject_probes(spark: SparkSession, paths: list[str]) -> list[tuple[int, int]]:
    """(h1, h2) per path through the SAME JVM xxhash64 expressions the
    bloom build uses — build/probe hash agreement by construction."""
    rows = (
        local_frame(spark, [(p,) for p in paths], "s STRING")
        .select(
            F.xxhash64("s").alias("h1"),
            F.xxhash64("s", F.lit(_BLOOM_SEED2)).alias("h2"),
        )
        .collect()
    )
    return [(r["h1"] & _U64, r["h2"] & _U64) for r in rows]


def compact_incremental(
    spark: SparkSession, out: str, target_rows_per_file: int = 4_000_000
) -> dict | None:
    """File-level major compaction (VERDICT r9 item 7): fold the pending
    deltas into the base by rewriting ONLY the base files whose key
    ranges the deltas touch, hardlinking every other file unchanged —
    the Iceberg/Hudi partial-rewrite shape. O(delta + affected files),
    not O(store): at sf1 a normal-cadence batch touches a handful of the
    ~70 range-clustered files, so the fold costs seconds where the full
    clustering shuffle costs ~10 minutes.

    Preconditions (returns None -> caller falls back to the full
    shuffle): a previous full compact stamped the layout marker (the
    disjoint-range invariant this surgery preserves only holds on a
    compaction-produced layout, and every file must carry footer stats),
    per-subdir ranges actually disjoint, the affected path / (p, o) sets
    bounded by keyset.BROADCAST_MAX, and the affected file fraction under
    _INCR_MAX_AFFECTED_FRACTION.

    Disjointness is preserved by construction: the key space of each
    partition subdir is carved into half-open intervals (one per base
    file + the gaps between), every rewritten row is bucket-tagged by
    interval (broadcast range join), and _write_buckets keeps one bucket
    per task / one file-roll chain per bucket — so a new file's range is
    always a subset of an affected file's old range or of a gap, never
    overlapping an untouched file. The affected-path version closure
    makes the `current` recompute exact: ALL versions of a path live in
    the one file whose range contains it, so affected files + deltas
    contain every version of every affected path."""
    inf_dir = os.path.join(out, "infotons")
    tri_dir = os.path.join(out, "triples")
    if not (
        os.path.isdir(inf_dir)
        and os.path.isdir(tri_dir)
        and os.path.exists(os.path.join(out, _COMPACTED_MARKER))
    ):
        return None
    batches = _delta_batches(out, _INF_DELTA)
    if not batches:
        return None

    deltas = read_stored(spark, "infotons", *batches)
    # delta watermark NOW: deltas is lazy, and its files are gone by the
    # bookkeeping step at the end
    delta_max = deltas.agg(F.max("index_time").alias("m")).first()["m"]
    path_rows = deltas.select("path").distinct().limit(keyset.BROADCAST_MAX + 1).collect()
    if len(path_rows) > keyset.BROADCAST_MAX:
        return None
    aff_paths = sorted(r["path"] for r in path_rows)
    # kinds that only exist in the deltas need open intervals of their own
    delta_kinds = {r["kind"] for r in deltas.select("kind").distinct().collect()}

    # `current` is recomputed for AFFECTED paths only: their version
    # closure is provably inside the slice (every file containing any
    # version of an affected path is itself affected, checked per kind
    # dir). A non-affected path that merely shares a file with an
    # affected one may have versions elsewhere — e.g. its tombstone in
    # the kind=DeletedInfoton dir — so its stored flags pass through (r10
    # parity-test catch: a blanket window flipped a deleted path's old
    # object version back to current). Every delta path is affected.
    r = _surgical_fold(
        spark,
        out,
        aff_paths,
        lambda s: fold_versions(s, deltas, aff_paths),
        extra_kinds=delta_kinds,
        target_rows_per_file=target_rows_per_file,
        max_affected_fraction=_INCR_MAX_AFFECTED_FRACTION,
    )
    if r is None:
        return None
    for name in (_INF_DELTA, _TRI_DELTA):
        d = os.path.join(out, name)
        if os.path.isdir(d):
            shutil.rmtree(d)
    # drop stale listings for the removed delta dirs (same hazard as in
    # the full path: batch=0 gets recreated later)
    forget(spark, out)
    _write_watermark(out, max(_read_watermark(out) or 0, delta_max or 0))
    r["mode"] = "incremental"
    r["folded_batches"] = len(batches)
    return r


def _surgical_fold(
    spark: SparkSession,
    out: str,
    aff_paths: list[str],
    rewrite_inf,
    *,
    extra_kinds: set[str] = frozenset(),
    target_rows_per_file: int = 4_000_000,
    max_affected_fraction: float | None = None,
) -> dict | None:
    """File-level surgery shared by compact_incremental and repair_paths:
    rewrite ONLY the base files whose key ranges the affected paths
    touch, hardlinking everything else. `rewrite_inf(base_slice)`
    transforms the affected infoton slice: rows of NON-affected paths
    must pass through unchanged, which fold_versions and
    fix.repair_versions do when given `aff_paths` as their key set. The
    affected subjects' triples are re-derived from its output. Returns
    the result dict, or None when a precondition fails (overlapping file
    ranges, affected fraction above the gate, oversized (p, o) set)."""
    import bisect

    inf_dir = os.path.join(out, "infotons")
    tri_dir = os.path.join(out, "triples")

    # ---- infotons: footer-stat overlap on the leading sort key --------
    inf_ranges = _file_col_ranges(inf_dir, "path")
    inf_affected: dict[str, set[str]] = {}
    n_files = n_aff = 0
    for sub, entries in inf_ranges.items():
        if not _ranges_disjoint(entries):
            return None
        aff = set()
        for fname, lo, hi, _n in entries:
            i = bisect.bisect_left(aff_paths, lo)
            if i < len(aff_paths) and aff_paths[i] <= hi:
                aff.add(fname)
        inf_affected[sub] = aff
        n_files += len(entries)
        n_aff += len(aff)
    if (
        max_affected_fraction is not None
        and n_files
        and n_aff / n_files > max_affected_fraction
    ):
        return None

    # ---- triples: find files holding affected subjects ----------------
    # Files are ranged on (o, s) inside each p dir, so `s` footer stats
    # are not selective. Sidecar bloom probes (VERDICT r10 item 3) answer
    # "could this file hold any affected subject?" in O(files x paths)
    # mmap bit tests with NO store scan; only files lacking a sidecar
    # (pre-sidecar layout) pay a columnar scan restricted to themselves.
    tri_base = read_stored(spark, "triples", tri_dir)
    tri_ranges = _file_col_ranges(tri_dir, "o")
    probes = _subject_probes(spark, aff_paths)
    hit_files: set[str] = set()
    no_sidecar: list[str] = []
    for sub, entries in tri_ranges.items():
        for fname, _lo, _hi, _n in entries:
            rel = os.path.join(sub, fname) if sub else fname
            hit = _subject_bloom_probe(out, rel, probes)
            if hit is None:
                no_sidecar.append(rel)
            elif hit:
                hit_files.add(rel)
    if no_sidecar:
        scan = read_stored(
            spark, "triples", *[os.path.join(tri_dir, f) for f in no_sidecar], base_path=tri_dir
        )
        hit_files |= {
            _rel_under(r["__f"], tri_dir)
            for r in restrict(scan.withColumn("__f", F.input_file_name()), "s", aff_paths)
            .select("__f")
            .distinct()
            .collect()
        }

    # the re-derived rows for affected subjects (same derivation as
    # reconciled_triples), whose (p, o) targets decide which additional
    # files must absorb new rows to keep ranges subset-of-old
    inf_base_slice_files = [
        os.path.join(inf_dir, sub, f) for sub, aff in inf_affected.items() for f in aff
    ]
    base_slice = (
        read_stored(spark, "infotons", *inf_base_slice_files, base_path=inf_dir)
        if inf_base_slice_files
        else local_frame(spark, [], stored_schema(spark, "infotons"))
    )
    rewritten_inf = rewrite_inf(base_slice)
    touched_docs = restrict(rewritten_inf, "path", aff_paths)
    new_tri = triples_of(touched_docs).select(*tri_base.columns)
    po_rows = (
        new_tri.select("p", "o").distinct().limit(keyset.BROADCAST_MAX + 1).collect()
    )
    if len(po_rows) > keyset.BROADCAST_MAX:
        return None
    new_po: dict[str, list[str]] = {}
    for r in po_rows:
        new_po.setdefault(r["p"], []).append(r["o"])
    for v in new_po.values():
        v.sort()

    tri_affected: dict[str, set[str]] = {}
    t_files = t_aff = 0
    for sub, entries in tri_ranges.items():
        if not _ranges_disjoint(entries):
            return None
        pval = _unescape_partition(sub)
        os_new = new_po.get(pval, [])
        aff = set()
        for fname, lo, hi, _n in entries:
            rel = os.path.join(sub, fname) if sub else fname
            if rel in hit_files or fname in hit_files:
                aff.add(fname)
                continue
            i = bisect.bisect_left(os_new, lo)
            if i < len(os_new) and os_new[i] <= hi:
                aff.add(fname)
        tri_affected[sub] = aff
        t_files += len(entries)
        t_aff += len(aff)
    if (
        max_affected_fraction is not None
        and t_files
        and t_aff / t_files > max_affected_fraction
    ):
        return None

    # ---- bucket intervals + writes ------------------------------------
    part_values_inf = {
        _unescape_partition(sub): sub for sub in inf_ranges if sub
    }
    iv_rows_inf: list[tuple[str, int, str, str | None]] = []
    bid = 0
    for sub, entries in inf_ranges.items():
        rows, bid, _fb = _intervals(entries, inf_affected[sub], bid)
        pv = _unescape_partition(sub) if sub else ""
        iv_rows_inf += [(pv, b, s, e) for b, s, e in rows]
    for k in sorted(set(extra_kinds) - set(part_values_inf)):
        iv_rows_inf.append((k, bid, "", None))
        bid += 1

    iv_inf = local_frame(spark, iv_rows_inf, _INTERVALS)
    tagged_inf = rewritten_inf.join(
        F.broadcast(iv_inf),
        (F.col("kind") == F.col("__pv"))
        & (F.col("path") >= F.col("__lo"))
        & (F.col("__hi").isNull() | (F.col("path") < F.col("__hi"))),
    ).drop("__pv", "__lo", "__hi")
    inf_tmp = os.path.join(out, "infotons__increment")
    if os.path.exists(inf_tmp):
        shutil.rmtree(inf_tmp)
    _write_buckets(tagged_inf, "kind", inf_tmp, target_rows_per_file, ["path", "index_time"])

    tri_slice = (
        read_stored(
            spark,
            "triples",
            *[os.path.join(tri_dir, sub, f) for sub, aff in tri_affected.items() for f in aff],
            base_path=tri_dir,
        )
        if any(tri_affected.values())
        else local_frame(spark, [], tri_base.schema)
    )
    # per-predicate row churn for the threshold-ANALYZE stats merge —
    # computed NOW, while the old files are still readable
    per_p_removed = {
        r["p"]: r["n"]
        for r in restrict(tri_slice, "s", aff_paths)
        .groupBy("p")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    per_p_added = {
        r["p"]: r["n"]
        for r in new_tri.groupBy("p").agg(F.count("*").alias("n")).collect()
    }
    rewritten_tri = restrict(tri_slice, "s", aff_paths, anti=True).unionByName(new_tri)
    iv_rows_tri: list[tuple[str, int, str, str | None]] = []
    for sub, entries in tri_ranges.items():
        rows, bid, _fb = _intervals(entries, tri_affected[sub], bid)
        pv = _unescape_partition(sub) if sub else ""
        iv_rows_tri += [(pv, b, s, e) for b, s, e in rows]
    for p in sorted(set(new_po) - {_unescape_partition(s) for s in tri_ranges}):
        iv_rows_tri.append((p, bid, "", None))
        bid += 1
    iv_tri = local_frame(spark, iv_rows_tri, _INTERVALS)
    tagged_tri = rewritten_tri.join(
        F.broadcast(iv_tri),
        (F.col("p") == F.col("__pv"))
        & (F.col("o") >= F.col("__lo"))
        & (F.col("__hi").isNull() | (F.col("o") < F.col("__hi"))),
    ).drop("__pv", "__lo", "__hi")
    tri_tmp = os.path.join(out, "triples__increment")
    if os.path.exists(tri_tmp):
        shutil.rmtree(tri_tmp)
    _write_buckets(tagged_tri, "p", tri_tmp, target_rows_per_file, ["o", "s"])

    # ---- assemble + swap + bookkeeping --------------------------------
    keep_inf = {
        sub: [f for f, _lo, _hi, _n in entries if f not in inf_affected[sub]]
        for sub, entries in inf_ranges.items()
    }
    keep_tri = {
        sub: [f for f, _lo, _hi, _n in entries if f not in tri_affected[sub]]
        for sub, entries in tri_ranges.items()
    }
    n_inf_files = _assemble(inf_dir, inf_tmp, os.path.join(out, "infotons__staging"), keep_inf)
    n_tri_files = _assemble(tri_dir, tri_tmp, os.path.join(out, "triples__staging"), keep_tri)
    for tmp in (inf_tmp, tri_tmp):
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)
    # drop stale listings for the swapped dirs
    forget(spark, out)
    # sidecar maintenance: replaced files' blooms die with them, kept
    # (hardlinked) files keep theirs, fresh bucket files get new blooms
    # — one read over O(new data) only
    bloom_root = os.path.join(out, _BLOOM_DIR)
    for sub, aff in tri_affected.items():
        for f in aff:
            rel = os.path.join(sub, f) if sub else f
            p = os.path.join(bloom_root, rel + ".bloom")
            if os.path.exists(p):
                os.remove(p)
    kept_rel = {
        os.path.join(sub, f) if sub else f
        for sub, files in keep_tri.items()
        for f in files
    }
    new_rel = [f for f in _table_rel_files(tri_dir) if f not in kept_rel]
    write_subject_blooms(spark, out, rel_files=new_rel)
    # threshold-ANALYZE: exact n_triples merge now, full sketch recollect
    # only when cumulative churn crosses the staleness gate (the full
    # pass is the dominant ~273 s of an sf1 compact — r10 measurement)
    stats_mode = merge_predicate_stats(spark, out, per_p_added, per_p_removed)
    return {
        "stats": stats_mode,
        "infoton_files": n_inf_files,
        "triple_files": n_tri_files,
        "rewritten_infoton_files": n_aff,
        "rewritten_triple_files": t_aff,
        # hit-detection telemetry: scanned_no_sidecar must be 0 on a
        # sidecar-complete store (the O(store)-scan-free contract)
        "bloom_probed_files": t_files - len(no_sidecar),
        "scanned_no_sidecar": len(no_sidecar),
    }


def repair_paths(
    spark: SparkSession, out: str, paths: list[str], target_rows_per_file: int = 4_000_000
) -> dict:
    """`op=x-fix` analog (Application.scala:229,3221 routes op=x-fix ->
    handleFix:2769; the repair itself is stortill Operations.scala
    fixWith:165-240): given paths the consistency audit flagged, rewrite
    ONLY those paths' version slice —

      - duplicate version rows (same path + uuid) collapse to one (the
        reference's ES duplicate purge keeping a single index entry,
        Operations.scala:172-185);
      - `current` flags are recomputed over the true version closure
        (the cas/es current reconciliation — at most one current per
        path, on the latest version);
      - the paths' index rows are re-derived from the repaired docs, so
        missing triples are re-indexed and ghost triples (rows whose
        version no longer exists) are purged (the purgeNotFound /
        reindex arms of fixWith).

    File-level surgery via the same primitives as incremental compaction
    (footer-range + bloom-sidecar targeting, interval-bucket rewrite,
    hardlinked survivors) — O(affected files), never O(store).

    Preconditions (ValueError): a compacted layout (marker stamped), no
    pending deltas (compact first — the affected files must BE the
    version closure), and a bounded path set."""
    inf_dir = os.path.join(out, "infotons")
    tri_dir = os.path.join(out, "triples")
    if not (
        os.path.isdir(inf_dir)
        and os.path.isdir(tri_dir)
        and os.path.exists(os.path.join(out, _COMPACTED_MARKER))
    ):
        raise ValueError("repair_paths requires a compacted store (run compact() first)")
    if _delta_batches(out, _INF_DELTA):
        raise ValueError(
            "repair_paths requires no pending deltas — run compact() first so the "
            "affected files hold the full version closure"
        )
    if not paths:
        return {"mode": "repair", "repaired_paths": 0}
    if len(paths) > keyset.BROADCAST_MAX:
        raise ValueError(f"path set exceeds the {keyset.BROADCAST_MAX}-path surgery cap")
    aff_paths = sorted(set(paths))

    from cm_well_spark.operators.fix import repair_versions  # fix imports this module

    r = _surgical_fold(
        spark,
        out,
        aff_paths,
        lambda s: repair_versions(s, aff_paths),
        target_rows_per_file=target_rows_per_file,
        max_affected_fraction=None,  # a repair must run however wide the damage
    )
    if r is None:
        raise ValueError(
            "store layout lost per-file range disjointness — run compact(mode='full') "
            "then retry the repair"
        )
    r["mode"] = "repair"
    r["repaired_paths"] = len(aff_paths)
    return r
