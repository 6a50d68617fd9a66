"""x-verify / x-fix (operators/fix.py + model/compaction.py:repair_paths
— stortill Operations.scala verify:74-100, fixWith:165-240; VERDICT r10
item 6): injected divergence is detected by verify_paths and repaired by
file-level surgery, leaving untouched files hardlinked in place."""

import os
import shutil
from datetime import datetime

import pytest
from pyspark.sql import functions as F

SF_DIR = os.environ.get("CMW_TEST_SF_DIR", "/root/testdata/sf0.001")

PATH = "/tpch/region/2"


def _sfv(v):
    return {"value": v, "vtype": "s", "lang": None, "quad": None, "num": None, "ts": None, "bool": None}


@pytest.fixture(scope="module")
def corrupted_store(spark, tmp_path_factory):
    """A compacted store with injected divergence on PATH: a duplicated
    version row, the current flag stuck on the OLD version, one triples
    row dropped (missing index) and one ghost triples row added."""
    from cm_well_spark.model.compaction import compact, write_batch
    from cm_well_spark.model.lakehouse import materialize
    from cm_well_spark.operators.merge import COMMAND_SCHEMA

    src = materialize(spark, SF_DIR)
    dst = str(tmp_path_factory.mktemp("fixlake") / "store")
    shutil.copytree(src, dst)
    compact(spark, dst, target_rows_per_file=2_000)
    # grow a second version so current-flag placement is meaningful
    write_batch(
        spark,
        dst,
        spark.createDataFrame(
            [(PATH, 1, "write", {"extra": [_sfv("v2")]}, None, datetime(2024, 6, 1), "https")],
            COMMAND_SCHEMA,
        ),
    )
    compact(spark, dst, target_rows_per_file=2_000)

    inf = spark.read.parquet(os.path.join(dst, "infotons"))
    tri = spark.read.parquet(os.path.join(dst, "triples"))
    is_new = (F.col("path") == PATH) & F.col("current")
    is_old = (F.col("path") == PATH) & ~F.col("current")
    corrupted_inf = (
        inf.withColumn(  # stick current on the OLD version, strip the new
            "current",
            F.when(is_old, F.lit(True)).when(is_new, F.lit(False)).otherwise(F.col("current")),
        )
        .unionByName(inf.where(is_new))  # duplicate the (demoted) new version row
    )
    ghost = tri.limit(1).select(
        F.lit(PATH).alias("s"),
        F.lit("ghostp").alias("p"),
        F.lit("boo").alias("o"),
        *[F.lit(None).cast(tri.schema[c].dataType).alias(c) for c in ["g", "vtype", "num", "ts", "bool", "lang"]],
        F.lit(9).alias("index_time"),
        F.lit(True).alias("current"),
        F.lit("ObjectInfoton").alias("kind"),
    ).select(*tri.columns)
    corrupted_tri = tri.where(
        ~((F.col("s") == PATH) & (F.col("p") == "name"))  # drop an index row
    ).unionByName(ghost)

    for name, df in (("infotons", corrupted_inf), ("triples", corrupted_tri)):
        tmp = os.path.join(dst, f"{name}__corrupt")
        df.write.mode("overwrite").partitionBy("kind" if name == "infotons" else "p").parquet(tmp)
        final = os.path.join(dst, name)
        shutil.rmtree(final)
        os.rename(tmp, final)
    spark.catalog.refreshByPath(dst)
    # restore clustering/marker/sidecars around the (preserved) corruption
    compact(spark, dst, mode="full", target_rows_per_file=2_000)
    return dst


def test_verify_paths_flags_injected_divergence(spark, corrupted_store):
    from cm_well_spark.operators.fix import verify_paths

    inf = spark.read.parquet(os.path.join(corrupted_store, "infotons"))
    tri = spark.read.parquet(os.path.join(corrupted_store, "triples"))
    rows = {r["path"]: r for r in verify_paths(inf, tri, [PATH, "/tpch/region/0"]).collect()}
    bad = rows[PATH]
    assert not bad["consistent"]
    assert bad["n_dup_versions"] == 1
    assert bad["n_current"] >= 1  # stuck on the old version
    assert bad["n_missing_triples"] >= 1 and bad["n_ghost_triples"] >= 1
    assert rows["/tpch/region/0"]["consistent"]


def test_repair_store_paths_fixes_and_is_surgical(spark, corrupted_store):
    from cm_well_spark.model.compaction import repair_paths
    from cm_well_spark.model.lakehouse import triples_of
    from cm_well_spark.operators.fix import verify_paths

    inf_dir = os.path.join(corrupted_store, "infotons")
    inventory = {
        (sub, f): os.stat(os.path.join(inf_dir, sub, f)).st_ino
        for sub in os.listdir(inf_dir)
        if os.path.isdir(os.path.join(inf_dir, sub))
        for f in os.listdir(os.path.join(inf_dir, sub))
        if f.endswith(".parquet")
    }
    r = repair_paths(spark, corrupted_store, [PATH], target_rows_per_file=2_000)
    assert r["mode"] == "repair" and r["repaired_paths"] == 1
    assert r["scanned_no_sidecar"] == 0  # targeting rode the bloom sidecars
    assert 1 <= r["rewritten_infoton_files"] < len(inventory)

    inf = spark.read.parquet(inf_dir)
    tri = spark.read.parquet(os.path.join(corrupted_store, "triples"))
    rows = verify_paths(inf, tri, [PATH]).collect()
    assert len(rows) == 1 and rows[0]["consistent"], rows

    fixed = inf.where(F.col("path") == PATH).orderBy("index_time").collect()
    assert len(fixed) == 2  # duplicate collapsed
    assert [v["current"] for v in fixed] == [False, True]  # latest wins
    got = {
        (r_["p"], r_["o"], r_["current"])
        for r_ in tri.where(F.col("s") == PATH).collect()
    }
    want = {
        (r_["p"], r_["o"], r_["current"])
        for r_ in triples_of(inf.where(F.col("path") == PATH)).collect()
    }
    assert got == want  # ghost purged, missing re-indexed
    assert ("ghostp", "boo", True) not in got

    # untouched infoton files survive as the same inodes (hardlinks)
    surviving = {
        (sub, f): os.stat(os.path.join(inf_dir, sub, f)).st_ino
        for sub in os.listdir(inf_dir)
        if os.path.isdir(os.path.join(inf_dir, sub))
        for f in os.listdir(os.path.join(inf_dir, sub))
        if f.endswith(".parquet")
    }
    kept = set(inventory) & set(surviving)
    assert kept and all(surviving[k] == inventory[k] for k in kept)


def test_repair_paths_preconditions(spark, tmp_path_factory):
    from cm_well_spark.model.compaction import compact, repair_paths, write_batch
    from cm_well_spark.model.lakehouse import materialize
    from cm_well_spark.operators.merge import COMMAND_SCHEMA

    src = materialize(spark, SF_DIR)
    dst = str(tmp_path_factory.mktemp("fixpre") / "store")
    shutil.copytree(src, dst)
    with pytest.raises(ValueError, match="compacted store"):
        repair_paths(spark, dst, [PATH])
    compact(spark, dst, target_rows_per_file=2_000)
    write_batch(
        spark,
        dst,
        spark.createDataFrame(
            [(PATH, 1, "write", {"extra": [_sfv("x")]}, None, datetime(2024, 6, 2), "https")],
            COMMAND_SCHEMA,
        ),
    )
    with pytest.raises(ValueError, match="no pending deltas"):
        repair_paths(spark, dst, [PATH])


def test_repair_versions_dataframe_level(spark):
    from cm_well_spark.operators.fix import repair_versions

    rows = [
        ("/a", "u1", 10, True),   # stale current
        ("/a", "u2", 20, False),
        ("/a", "u2", 20, False),  # duplicate
        ("/b", "u3", 30, True),   # untouched path keeps its flags
        ("/b", "u4", 40, False),
    ]
    df = spark.createDataFrame(rows, "path STRING, uuid STRING, index_time LONG, current BOOLEAN")
    got = {
        (r["path"], r["uuid"], r["current"])
        for r in repair_versions(df, paths=["/a"]).collect()
    }
    assert got == {("/a", "u1", False), ("/a", "u2", True), ("/b", "u3", True), ("/b", "u4", False)}
