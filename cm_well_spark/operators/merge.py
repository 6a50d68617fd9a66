"""Versioned merge writer — the write-path operator (W1-W4, SURVEY.md §2.8).

Re-implements the reference's pure merge logic (cmwell-bg Merger.scala:55-239)
as a batch/micro-batch fold over commands grouped by path:

  write    field-UNION with the previous version (merge_f:55-75); a write
           on top of a DeletedInfoton resurrects (write_merge:180).
  update   delete-then-add in one version (update_f:121-127); if nothing
           remains -> DeletedInfoton tombstone (update_merge:147).
  delete_attributes
           value/field/quad-precise deletes (delete_f:77-119):
             {field: []}                      -> wipe the whole field
             {field: [(value,quad)]}          -> that value; quad None
                                                 matches untagged, '*' any
             {field: [(None, quad)]}          -> every value tagged quad
             {'*':   [(None, quad-or-'*')]}   -> wildcard across all fields
           empty result -> DeletedInfoton (delete_merge:133-137).
  delete_path
           tombstone; delete-on-delete is a no-op (delete_merge:141).

Execution: `merge_versions` folds each partition in one Arrow pass. The
current versions of the batch's paths (NULL seq) and the commands form
one frame, hash-partitioned by path and sorted by (path, seq nulls
first), and one mapInArrow operator streams each partition's record
batches through the pure fold above. Only the CHANGED paths flow through
Python; the rest of the table is untouched until the final current-flag
flip (the Spark analog of ImpStream's group-commands-by-path
micro-batching, ImpStream.scala:96-99; Pregelix runs its vertex programs
inside one sort-based group-by over a partition stream the same way).
It replaced a groupBy("path").cogroup(...).applyInPandas fold, whose
per-path Arrow->pandas round trip, on both sides, was the write cost
(4 cores, sf0.001 store after one full compact, warm, min of 3):

    128 / 384-path batch                          time
    cogroup merge_versions                        1.09 / 2.75 s
    the same cogroup with a no-op UDF             1.02 / 2.69 s
    the pure-Python merge over the same rows      0.15 / 0.36 s

The new version's uuid recomputes with the same content-hash recipe as
ingest (Infoton.scala:139-168 shape); index_time is assigned by the
writer like the reference assigns it at index time (SURVEY §3.4).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterable
from datetime import datetime

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cm_well_spark.model.schema import FIELD_VALUE_TYPE
from cm_well_spark.plans import keyset
from cm_well_spark.plans.iterative import iter_checkpoint_lazy
from cm_well_spark.plans.keyset import restrict

# ---------------------------------------------------------------------------
# pure merge logic (python dicts: fields = {name: [fv dict]})
# fv dict keys: value, vtype, lang, quad, num, ts, bool  (value None = FNull)
# ---------------------------------------------------------------------------


def merge_fields(prev: dict | None, curr: dict | None) -> dict:
    """Field-union (merge_f): per-field set union of values."""
    prev = prev or {}
    curr = curr or {}
    out: dict = {}
    for k in set(prev) | set(curr):
        seen, vals = set(), []
        for fv in list(prev.get(k, [])) + list(curr.get(k, [])):
            key = (fv.get("value"), fv.get("quad"), fv.get("lang"))
            if key not in seen:
                seen.add(key)
                vals.append(fv)
        if vals:
            out[k] = vals
    return out


def delete_fields_f(curr: dict | None, deletes: dict) -> dict:
    """Value/field/quad-precise delete (delete_f)."""
    curr = dict(curr or {})
    star = deletes.get("*")
    asterix = star is not None
    star_quads = {fv.get("quad") for fv in (star or []) if fv.get("value") is None}
    star_all = "*" in star_quads

    def quad_matches_star(q):
        return asterix and (star_all or q in star_quads)

    named = {k: v for k, v in deletes.items() if k != "*"}
    out: dict = {}
    for k, vs in curr.items():
        if k in named or asterix:
            spec = named.get(k)
            if spec is not None and len(spec) == 0:
                continue  # field wipe
            kept = []
            for fv in vs:
                dead = quad_matches_star(fv.get("quad"))
                for d in spec or []:
                    if dead:
                        break
                    dv, dq = d.get("value"), d.get("quad")
                    if dv is None:  # FNull: quad-targeted delete within field
                        dead = dq == "*" or fv.get("quad") == dq
                    elif dv == fv.get("value"):
                        if dq is None:
                            dead = fv.get("quad") is None
                        elif dq == "*":
                            dead = True
                        else:
                            dead = fv.get("quad") == dq
                if not dead:
                    kept.append(fv)
            if kept:
                out[k] = kept
        else:
            out[k] = vs
    return out


def apply_command(state: tuple[str, dict], cmd: dict) -> tuple[str, dict]:
    """Fold one command into (kind, fields) state. kind 'missing' means no
    previous version exists."""
    kind, fields = state
    op = cmd["op"]
    if op == "delete_path":
        return ("DeletedInfoton", {})
    if op == "delete_attributes":
        if kind == "DeletedInfoton":
            return (kind, fields)  # delete-on-delete no-op
        nf = delete_fields_f(fields, cmd.get("delete_fields") or {})
        return (("ObjectInfoton", nf) if nf else ("DeletedInfoton", {}))
    if op == "update":
        if kind == "DeletedInfoton" or kind == "missing":
            nf = merge_fields(None, cmd.get("fields") or {})
        else:
            after_del = delete_fields_f(fields, cmd.get("delete_fields") or {})
            nf = merge_fields(after_del, cmd.get("fields") or {})
        return (("ObjectInfoton", nf) if nf else ("DeletedInfoton", {}))
    if op == "write":
        if kind in ("DeletedInfoton", "missing"):
            return ("ObjectInfoton", merge_fields(None, cmd.get("fields") or {}))
        return ("ObjectInfoton", merge_fields(fields, cmd.get("fields") or {}))
    raise ValueError(f"unknown command op {op!r}")


def content_uuid(path: str, last_modified: datetime, fields: dict) -> str:
    """Same canonical recipe as the ingest builder (model/builder.py) so
    batch-built and merge-written versions hash identically."""
    canon = ";".join(
        sorted(
            f"{k}:" + "|".join(sorted(str(fv.get("value")) for fv in vs))
            for k, vs in fields.items()
            if vs
        )
    )
    lm = last_modified.strftime("%Y-%m-%dT%H:%M:%SZ")
    return hashlib.md5(f"{path}\n{lm}\n{canon}".encode()).hexdigest()


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------

COMMAND_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("seq", T.LongType(), False),  # per-path ordering
        T.StructField("op", T.StringType(), False),
        T.StructField("fields", T.MapType(T.StringType(), T.ArrayType(FIELD_VALUE_TYPE))),
        T.StructField("delete_fields", T.MapType(T.StringType(), T.ArrayType(FIELD_VALUE_TYPE))),
        T.StructField("last_modified", T.TimestampType()),
        T.StructField("protocol", T.StringType()),
    ]
)

_VERSION_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("uuid", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("last_modified", T.TimestampType()),
        T.StructField("fields", T.MapType(T.StringType(), T.ArrayType(FIELD_VALUE_TYPE))),
        T.StructField("protocol", T.StringType()),
        T.StructField("seq", T.LongType()),
    ]
)


def _fields_sig(fields: dict) -> frozenset:
    return frozenset(
        (k, frozenset((v.get("value"), v.get("quad"), v.get("lang")) for v in vs)) for k, vs in fields.items()
    )


def _fields_to_py(m) -> dict:
    """A fields map as Arrow's to_pylist hands it ((key, values) pairs)."""
    return {k: vs or [] for k, vs in m or ()}


def _version_arrow(rows: pa.Schema) -> pa.Schema:
    """_VERSION_SCHEMA in Arrow, taken from the fold's input batches: every
    column but uuid passes through with the type Spark handed in."""
    return pa.schema(
        [rows.field("path"), pa.field("uuid", pa.string())]
        + [rows.field(c) for c in ("kind", "last_modified", "fields", "protocol", "seq")]
    )


def _fold_partition(batches):
    """mapInArrow body: fold one partition's rows, sorted by (path, seq
    nulls first), into one version row per command that changed the
    content. A path's current version (NULL seq) comes first and seeds
    the state; a path with none starts 'missing'. The running (path,
    state, previous signature, protocol) outlives each record batch,
    because one path's rows can span two of them; one output batch is
    yielded per input batch, so memory stays bounded by the batch."""
    path = state = prev_sig = protocol = None
    for batch in batches:
        out = []
        for r in batch.to_pylist():
            if r["path"] != path:
                path, state, prev_sig, protocol = r["path"], ("missing", {}), None, "https"
            if r["seq"] is None:
                state = (r["kind"], _fields_to_py(r["fields"]))
                prev_sig = (state[0], _fields_sig(state[1]))
                protocol = r["protocol"]
                continue
            state = apply_command(
                state,
                {
                    "op": r["op"],
                    "fields": _fields_to_py(r["fields"]),
                    "delete_fields": _fields_to_py(r["delete_fields"]),
                },
            )
            # null-update detection: identical merged content produces NO
            # new version (the reference's merger skips no-op merges)
            sig = (state[0], _fields_sig(state[1]))
            if sig == prev_sig:
                continue
            prev_sig = sig
            lm = r["last_modified"]
            out.append(
                {
                    "path": path,
                    "uuid": content_uuid(path, lm, state[1]),
                    "kind": state[0],
                    "last_modified": lm,
                    "fields": state[1] or None,
                    "protocol": r["protocol"] or protocol,
                    "seq": r["seq"],
                }
            )
        yield pa.RecordBatch.from_pylist(out, schema=_version_arrow(batch.schema))


def command_paths(commands: DataFrame) -> list[str] | DataFrame:
    """The batch's distinct command paths: a driver list when there are
    at most keyset.BROADCAST_MAX of them (one limit-capped job), else the
    path frame itself — the key set every affected-path restriction of
    the write plan goes through (plans/keyset.restrict).

    A literal path set turns those restrictions into predicates that
    reach the STORAGE layer — parquet row-group min/max or in-memory
    batch pruning on the path-sorted store — instead of runtime joins
    that deserialize the wide fields column of every row (measured 4x on
    the current-flip plan at sf0.1: the merge's base side scanned all
    891k cached rows' maps to keep 4 paths). Distinct-then-limit
    measured faster than a plain limit (A/B min-of-4: build 0.90 s vs
    1.46 s): collect on a bare limit escalates through several serial
    executeTake mini-jobs, the distinct's single shuffle is one."""
    rows = commands.select("path").distinct().limit(keyset.BROADCAST_MAX + 1).collect()
    if len(rows) > keyset.BROADCAST_MAX:
        return commands.select("path")
    return [r["path"] for r in rows]


def merge_versions(
    infotons: DataFrame,
    commands: DataFrame,
    paths: list[str] | DataFrame | None = None,
) -> DataFrame:
    """Fold commands into new version rows (one per command that changed
    the content) in one Arrow pass per partition.

    Only the current versions of the affected paths are read: `paths`
    (from command_paths) restricts the base. When it is omitted, the
    commands are lazily checkpointed first and the path set is computed
    here, so the caller's frame is read once; a caller that passes
    `paths` has done both (apply_commands). A frame built by
    createDataFrame(list) is a Python RDD, and each scan of it launches
    Python-worker tasks: about 0.35 s a scan, 1.5-3.8 s the first in a
    JVM, 0.07-0.1 s once checkpointed (4 cores, 128-384-path batches),
    and a batch used to scan it 2-3 times (command_paths, the fold's
    input, the AQE re-plan).

    The base rows (NULL seq, their own kind/fields/protocol) and the
    commands form one frame with one exchange: hash-partitioned by path
    and sorted by (path, seq nulls first), so each path's rows are
    contiguous with its current version first, and _fold_partition
    streams them through mapInArrow."""
    if paths is None:
        commands = iter_checkpoint_lazy(commands)
        paths = command_paths(commands)
    base = restrict(infotons.where(F.col("current")), "path", paths).select(
        "path", "kind", "fields", "protocol"
    )
    rows = commands.select(*COMMAND_SCHEMA.fieldNames()).unionByName(base, allowMissingColumns=True)
    return (
        rows.repartition("path")
        .sortWithinPartitions("path", F.asc_nulls_first("seq"))
        .mapInArrow(_fold_partition, _VERSION_SCHEMA)
    )


def decorate_versions(versions: DataFrame, index_time_base: int | Column) -> DataFrame:
    """Turn merge_versions output into full infoton rows: writer-assigned
    index_time (per-path row_number over base — monotone batch semantics,
    scale-safe: no global sort), parent/hierarchy derivation, writer
    constants. Shared by apply_commands (in-memory full-table update) and
    the lakehouse delta writer (model/compaction.write_batch), so the two
    write paths can never drift. `current` is left False — the caller
    sets it through mark_current or fold_versions."""
    w_seq = F.row_number().over(Window.partitionBy("path").orderBy("seq"))
    base = index_time_base if isinstance(index_time_base, Column) else F.lit(index_time_base)
    return (
        versions.withColumn("index_time", base + w_seq - 1)
        .withColumn("parent", F.when(F.regexp_replace("path", "/[^/]+$", "") == "", "/").otherwise(F.regexp_replace("path", "/[^/]+$", "")))
        .withColumn(
            "parent_hierarchy",
            F.concat(
                F.array(F.lit("/")),
                # guard: sequence(1, 0) runs DESCENDING in Spark, so a
                # 2-segment path ("/x") would list ITSELF as an ancestor
                F.when(
                    F.size(F.split(F.col("path"), "/")) >= 3,
                    F.filter(
                        F.transform(
                            F.sequence(F.lit(1), F.size(F.split(F.col("path"), "/")) - F.lit(2)),
                            lambda i: F.concat_ws("/", F.slice(F.split(F.col("path"), "/"), 1, i + 1)),
                        ),
                        lambda p: p != "",
                    ),
                ).otherwise(F.array().cast("array<string>")),
            ),
        )
        .withColumn("last_modified_by", F.lit("merge-writer"))
        .withColumn("dc", F.lit("local"))
        .withColumn("current", F.lit(False))
        .withColumn("mime_type", F.lit(None).cast("string"))
        .withColumn("data", F.lit(None).cast("binary"))
        .withColumn("data_pointer", F.lit(None).cast("string"))
        .withColumn("link_to", F.lit(None).cast("string"))
        .withColumn("link_kind", F.lit(None).cast("int"))
        .drop("seq")
    )


def mark_current(versions: DataFrame) -> DataFrame:
    """Set `current` on the latest version of each path: the highest
    (index_time, uuid) row, i.e. the last row of the change feed's total
    order (operators/consume.next_chunk). Tombstones count as versions;
    the search visibility filter excludes DeletedInfoton separately
    (FTSService.scala:850-854). This is the one window that decides the
    flag — the reference flips `system.current` in ES when it indexes a
    newer version (IndexerStream.scala:100-137)."""
    w = Window.partitionBy("path").orderBy(F.desc("index_time"), F.desc("uuid"))
    return versions.withColumn("current", F.row_number().over(w) == 1)


def fold_versions(table: DataFrame, new_rows: DataFrame, keys: Iterable | DataFrame) -> DataFrame:
    """Append `new_rows` to a versioned doc table and recompute `current`
    for the paths in `keys` only (every path of `new_rows` must be one of
    them): their versions are mark_current'ed together, every other row
    passes through an anti restriction with its stored flag. `keys` is
    anything keyset.restrict takes, and the same object backs both
    restrictions, so a bound it carries picks both routes."""
    untouched = restrict(table, "path", keys, anti=True)
    touched = restrict(table, "path", keys).unionByName(new_rows.select(*table.columns))
    return untouched.unionByName(mark_current(touched))


def apply_commands(infotons: DataFrame, commands: DataFrame, index_time_base: int | None = None) -> DataFrame:
    """Full write-path batch: returns the UPDATED infoton table (old
    versions kept with current=False, new versions appended; only the last
    version per path is current — W3+W4 'current flip' in one plan).

    index_time: writer-assigned, monotonically after the table's max
    (the reference assigns indexTime at index time, SURVEY §3.4)."""
    commands = iter_checkpoint_lazy(commands)
    paths = command_paths(commands)
    versions = merge_versions(infotons, commands, paths)
    if index_time_base is None:
        # The table max rides the plan as a broadcast 1-row cross join
        # instead of a serial .first() probe job at CONSTRUCTION (r11,
        # guide §5 driver latency): same exact base — max(index_time)+1 —
        # but computed inside the caller's own action, in parallel with
        # everything else. BroadcastNestedLoopJoin of a 1-row build side
        # costs nothing.
        mx = infotons.agg(
            (F.coalesce(F.max("index_time"), F.lit(0)) + 1).alias("__itb")
        )
        versions = versions.crossJoin(F.broadcast(mx))
        index_time_base = F.col("__itb")
    # Writer-assigned index_time semantics live in decorate_versions
    # (per-path row_number — monotone batch, no global sort; cross-path
    # collisions allowed exactly like the reference's parallel indexers,
    # ImpStream.scala:96-137).
    new_rows = decorate_versions(versions, index_time_base)
    if "__itb" in new_rows.columns:
        new_rows = new_rows.drop("__itb")
    # Affected paths come from COMMANDS, not from the merged versions:
    # merge_versions' output paths are a subset of the command paths, so
    # this is the same path set for routing purposes — but deriving it
    # from `versions` made the Python merge subtree appear THREE times
    # in the physical plan (anti-join build, semi-join build, new_rows),
    # re-running the whole merge per reference. Commands-derived routing
    # keeps the fold at exactly one evaluation. A no-op command's path
    # now routes through mark_current instead of the untouched branch;
    # it recomputes the identical flag, so the output is row-identical.
    return fold_versions(infotons, new_rows, paths)
