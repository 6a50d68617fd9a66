"""`op=x-verify` / `op=x-fix`: per-path consistency verification and
repair.

The reference keeps each infoton twice — version history in Cassandra,
index entries (with the `current` flag) in Elasticsearch — and ships a
verify/fix pair to reconcile them (Application.scala:3221-3223 routes
op=x-verify/x-fix -> handleVerify/handleFix:2769-2805; the logic is
stortill Operations.scala: verify:74-100, fixWith:165-240). Our single
lakehouse has the same dual shape one level down: the `infotons` doc
table (the history) and the derived `triples` EAV table (the index).
The checks and repairs translate one-to-one:

  reference inconsistency            | lakehouse analog
  -----------------------------------+--------------------------------
  uuid indexed in >1 ES index        | duplicate (path, uuid) version
  (verify:77, purge keeps one)       | rows -> collapse to one
  >1 `current` among versions        | same flag on the doc table
  (verify:95)                        | -> merge.mark_current: the
                                     | highest (index_time, uuid) wins
  ES size != Cas size / uuid missing | triples missing for a version /
  from either side (verify:96-97,    | ghost triples whose version is
  fixWith purge/reindex arms)        | gone -> re-derive from docs

`verify_paths` is the read-only report; `repair_versions` and
`lakehouse.rederive_triples` are the DataFrame-level repair (pure,
oracle-checkable); `repair_store_paths` (model/compaction.py:
repair_paths) applies the same repair to a materialized store by
file-level surgery — O(affected files), never O(store).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cm_well_spark.model.compaction import repair_paths as repair_store_paths  # noqa: F401
from cm_well_spark.model.lakehouse import triples_of
from cm_well_spark.operators.merge import mark_current
from cm_well_spark.plans.keyset import restrict


def verify_paths(infotons: DataFrame, triples: DataFrame, paths: list[str]) -> DataFrame:
    """x-verify analog: one row per audited path with the violation
    counts and the overall `consistent` verdict (Operations.scala
    verify:74-100). Every comparison runs on the audited paths' slice
    (keyset.restrict); the triples diff is exceptAll on the full row
    shape, so value drift counts as both a ghost and a missing row."""
    slice_ = restrict(infotons, "path", paths)
    per = slice_.groupBy("path").agg(
        F.count("*").alias("n_versions"),
        F.sum(F.when(F.col("current"), 1).otherwise(0)).alias("n_current"),
        (F.count("*") - F.countDistinct("uuid")).alias("n_dup_versions"),
        F.max("index_time").alias("__max_it"),
        F.max(F.when(F.col("current"), F.col("index_time"))).alias("__cur_it"),
    )
    expected = triples_of(slice_)
    actual = restrict(triples, "s", paths).select(*expected.columns)
    missing = (
        expected.exceptAll(actual)
        .groupBy(F.col("s").alias("path"))
        .agg(F.count("*").alias("n_missing_triples"))
    )
    ghost = (
        actual.exceptAll(expected)
        .groupBy(F.col("s").alias("path"))
        .agg(F.count("*").alias("n_ghost_triples"))
    )
    return (
        per.join(missing, "path", "left")
        .join(ghost, "path", "left")
        .select(
            "path",
            "n_versions",
            "n_current",
            "n_dup_versions",
            F.coalesce("n_missing_triples", F.lit(0)).alias("n_missing_triples"),
            F.coalesce("n_ghost_triples", F.lit(0)).alias("n_ghost_triples"),
            (
                (F.col("n_dup_versions") == 0)
                & (F.col("n_current") == 1)
                & (F.col("__cur_it") == F.col("__max_it"))
                & (F.coalesce("n_missing_triples", F.lit(0)) == 0)
                & (F.coalesce("n_ghost_triples", F.lit(0)) == 0)
            ).alias("consistent"),
        )
    )


def repair_versions(infotons: DataFrame, paths: list[str] | None = None) -> DataFrame:
    """The doc-table half of x-fix: collapse duplicate (path, uuid)
    version rows (keep the one already flagged current, deterministic
    tiebreak — the ES-duplicate purge of Operations.scala:172-185) and
    recompute `current` so exactly the latest version per path carries
    it. With `paths` given, rows of other paths pass through untouched."""
    if paths is not None:
        return repair_versions(restrict(infotons, "path", paths)).unionByName(
            restrict(infotons, "path", paths, anti=True)
        )
    w_dup = Window.partitionBy("path", "uuid").orderBy(F.desc("current"), F.desc("index_time"))
    deduped = (
        infotons.withColumn("__dn", F.row_number().over(w_dup))
        .where(F.col("__dn") == 1)
        .drop("__dn")
    )
    return mark_current(deduped)

