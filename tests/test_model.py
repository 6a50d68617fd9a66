import hashlib
import os

import pytest
from conftest import jobs_in
from pyspark.sql import functions as F

# Order-insensitive hash of every row build_infotons makes: md5 over the
# sorted md5s of each row's to_json. Recorded from the Column-built
# builder, so the SQL-text builder is held to the same rows, uuid included.
BUILT_ROWS_MD5 = {
    "sf0.001": "cdbcd2f00a81f38f27ffe2a96739fd93",
    "sf0.01": "a7ceda693270194ce3ba0aa3b54ccc43",
}


def test_builder_counts(infotons, spark, sf_dir):
    # one infoton per source entity row
    from cm_well_spark.sources import tables as tbl

    raw = tbl.load(spark, sf_dir)
    expected = sum(raw[t].count() for t in raw if t != "embeddings")
    assert infotons.count() == expected


def test_paths_and_parent(infotons):
    row = infotons.where(F.col("path") == "/tpch/customer/1").first()
    assert row is not None
    assert row["parent"] == "/tpch/customer"
    assert row["parent_hierarchy"] == ["/", "/tpch", "/tpch/customer"]
    assert row["kind"] == "ObjectInfoton"
    assert row["current"] is True


def test_fields_typed(infotons):
    row = infotons.where(F.col("path") == "/tpch/customer/1").first()
    f = dict(row["fields"])
    assert f["rdfType"][0]["value"] == "Customer"
    assert f["acctbal"][0]["vtype"] == "w"
    assert f["acctbal"][0]["num"] is not None
    assert f["inNation"][0]["value"].startswith("/tpch/nation/")


def test_uuid_deterministic(spark, sf_dir):
    from cm_well_spark.model.builder import build_infotons

    a = build_infotons(spark, sf_dir, only=["region"]).select("path", "uuid").collect()
    b = build_infotons(spark, sf_dir, only=["region"]).select("path", "uuid").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert all(len(u) == 32 for _, u in a)


def test_quad_tag(infotons):
    row = infotons.where(F.col("path") == "/docs/1").first()
    f = dict(row["fields"])
    assert f["source"][0]["quad"].startswith("/graphs/")


def test_triples_view(triples):
    t = triples.where((F.col("s") == "/tpch/nation/3") & (F.col("p") == "ofRegion"))
    rows = t.collect()
    assert len(rows) == 1
    assert rows[0]["o"].startswith("/tpch/region/")


def test_built_schema_is_infoton_schema(spark, sf_dir):
    from cm_well_spark.model.builder import build_infotons
    from cm_well_spark.model.schema import INFOTON_SCHEMA

    built = build_infotons(spark, sf_dir).schema
    assert [(f.name, f.dataType) for f in built] == [(f.name, f.dataType) for f in INFOTON_SCHEMA]


def test_built_rows_unchanged(spark, sf_dir):
    from cm_well_spark.model.builder import build_infotons

    want = BUILT_ROWS_MD5.get(os.path.basename(os.path.normpath(sf_dir)))
    if want is None:
        pytest.skip(f"no recorded row hash for {sf_dir}")
    df = build_infotons(spark, sf_dir)
    rows = sorted(r[0] for r in df.select(F.md5(F.to_json(F.struct(*df.columns)))).collect())
    assert hashlib.md5("\n".join(rows).encode()).hexdigest() == want


def test_build_is_a_few_jvm_calls(spark, sf_dir, monkeypatch):
    """The projection is SQL text the JVM parses once per kind; building
    it from Column calls took about 26,000 py4j round trips."""
    from py4j.clientserver import ClientServerConnection

    from cm_well_spark.model.builder import build_infotons

    calls = []
    send = ClientServerConnection.send_command

    def counted(self, command, *args, **kwargs):
        calls.append(1)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    build_infotons(spark, sf_dir)
    monkeypatch.undo()
    assert len(calls) <= 1000


def test_raw_tables_read_with_their_declared_schemas(spark, sf_dir):
    from cm_well_spark.sources import tables as tbl

    assert jobs_in(spark, lambda: tbl.load(spark, sf_dir))[1] == []
    for name in tbl.TABLES:
        inferred = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).schema
        assert tbl.load_table(spark, sf_dir, name).schema == inferred, name


def test_stored_schemas_are_what_the_store_reads_back(spark, sf_dir):
    from cm_well_spark.model.lakehouse import materialize, read_stored, stored_schema

    out = materialize(spark, sf_dir)
    for table in ("infotons", "triples", "predicate_stats"):
        path = os.path.join(out, table)
        assert stored_schema(spark, table) == spark.read.parquet(path).schema, table
        assert jobs_in(spark, lambda p=path, t=table: read_stored(spark, t, p))[1] == [], table


def test_rebuilt_store_serves_fresh_frames(spark, sf_dir, tmp_path, monkeypatch):
    """A rebuild drops the memoized (and cached) frames of the store it
    rewrites: they list part files the rebuild deletes."""
    import shutil

    from cm_well_spark.model.lakehouse import load_infotons, load_predicate_stats, materialize

    monkeypatch.setenv("CMW_CACHE", "1")
    src = materialize(spark, sf_dir)
    root = str(tmp_path / "lake")
    shutil.copytree(src, os.path.join(root, os.path.basename(src)))
    before = load_infotons(spark, sf_dir, root=root)
    n = before.count()
    assert before.is_cached and load_predicate_stats(spark, sf_dir, root=root)
    materialize(spark, sf_dir, root=root, force=True)
    assert not before.is_cached
    assert load_infotons(spark, sf_dir, root=root).count() == n
    assert load_predicate_stats(spark, sf_dir, root=root)
