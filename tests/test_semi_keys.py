"""Semi-join key frames keep their duplicates while an exact bound keeps
them broadcast (plans/keyset.semi_keys), and driver rows become frames
in the JVM (plans/keyset.local_frame).

Jobs are counted with `statusTracker` on the suite's store; rows are
compared by hash against a route that deduplicates every key frame."""

from __future__ import annotations

import shutil
from datetime import datetime

import pytest
from conftest import jobs_in
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from cm_well_spark.operators import traversal
from cm_well_spark.operators.aggregations import aggregate
from cm_well_spark.operators.search import search
from cm_well_spark.parsers.qp import parse_qp
from cm_well_spark.plans import keyset
from cm_well_spark.plans.index_route import index_search_paths
from cm_well_spark.plans.keyset import proven_path_bound, semi_keys


@pytest.fixture(scope="module")
def stats(spark, sf_dir):
    from cm_well_spark.model.lakehouse import load_predicate_stats

    st = load_predicate_stats(spark, sf_dir)
    assert st is not None
    return st


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _hashes(df) -> list[str]:
    return sorted(r[0] for r in df.select(F.md5(F.to_json(F.struct(*df.columns)))).collect())


def _deduplicates(df) -> bool:
    return "Aggregate" in df._jdf.queryExecution().optimizedPlan().toString()


# ---- (a) job counts -------------------------------------------------------


def test_two_predicate_search_fires_at_most_three_jobs(spark, infotons, triples, stats):
    df = search(
        infotons, qp="rdfType::Customer,mktsegment::BUILDING", sort_by="path", length=10_000,
        triples=triples, stats=stats,
    )
    assert len(jobs_in(spark, lambda: _noop(df))[1]) <= 3


def test_two_level_expand_out_fires_at_most_ten_jobs(spark, infotons, triples, stats):
    def run():
        seeds = search(infotons, qp="rdfType::Customer,custkey<20", length=None, triples=triples, stats=stats)
        _noop(traversal.expand_out(infotons, seeds, "inNation>ofRegion", triples=triples, stats=stats))

    assert len(jobs_in(spark, run)[1]) <= 10


def test_min_doc_count_one_hist_fires_at_most_four_jobs(spark, infotons, triples, stats):
    def run():
        seeds = search(infotons, qp="rdfType::Part", length=None, triples=triples, stats=stats)
        ap = "type:hist,field::size,interval:10,minDocCount:1"
        res = aggregate(seeds, ap, triples=triples, stats=stats, universe_types=frozenset({"Part"}))
        _noop(res[0].df)

    assert len(jobs_in(spark, run)[1]) <= 4


# ---- (b) rows -------------------------------------------------------------


@pytest.mark.parametrize(
    "qp",
    [
        "words>m",  # a multi-valued predicate: a part matches once per word
        "[*mktsegment::BUILDING,*acctbal>5000]",  # overlapping Should branches
    ],
)
def test_index_route_bag_hydrates_the_same_rows(spark, infotons, triples, stats, qp):
    paths, _residual, bound = index_search_paths(triples, parse_qp(qp), stats)
    assert not _deduplicates(paths)
    assert paths.count() > paths.distinct().count()  # the key frame is a bag
    assert proven_path_bound(paths) >= paths.count() and bound is not None
    for kw in ({"length": None}, {"sort_by": "path", "length": 10_000}):
        doc_side = search(infotons, qp=qp, **kw)
        idx_side = search(infotons, qp=qp, triples=triples, stats=stats, **kw)
        assert _hashes(idx_side) == _hashes(doc_side)


def test_expand_paths_alternatives_reaching_the_same_path(infotons, triples, stats):
    seeds = search(infotons, qp="rdfType::Nation,nationkey::3", length=None, triples=triples, stats=stats)
    a, b = "<inNation", "<inNation[rdfType::Customer]"
    both = traversal.expand_paths(infotons, triples, seeds, f"{a}|{b}", stats=stats)
    union = {
        r["path"]
        for yg in (a, b)
        for r in traversal.expand_paths(infotons, triples, seeds, yg, stats=stats).select("path").collect()
    }
    expected = infotons.where(F.col("current") & F.col("path").isin(sorted(union)))
    assert len(union) > 1 + 1  # the alternatives overlap past the seed
    assert _hashes(both) == _hashes(expected)


@pytest.mark.parametrize("with_stats", [True, False])
def test_hydrate_above_limit_takes_limit_distinct_rows(infotons, triples, stats, with_stats):
    st = stats if with_stats else None
    seeds = search(infotons, qp="rdfType::Customer,custkey<11", length=None, triples=triples, stats=st)
    full = set(_hashes(traversal.expand_out(infotons, seeds, "inNation>ofRegion", triples=triples, stats=st)))
    capped = _hashes(traversal.expand_out(infotons, seeds, "inNation>ofRegion", limit=3, triples=triples, stats=st))
    assert len(capped) == len(set(capped)) == 3
    assert set(capped) <= full


def test_hydrate_with_an_unbounded_part_takes_limit_distinct_keys(infotons):
    current = infotons.where(F.col("current"))
    nations = current.where(F.col("path").startswith("/tpch/nation/")).select("path")
    parts = [nations, nations]  # unbounded, and every path twice
    assert proven_path_bound(nations) is None
    out = traversal._hydrate(infotons, parts, 3)
    assert len(set(_hashes(out))) == len(_hashes(out)) == 3
    full = traversal._hydrate(infotons, parts, 100)
    assert _hashes(full) == _hashes(current.where(F.col("path").startswith("/tpch/nation/")))


def test_semi_keys_above_the_cap_deduplicates(spark, monkeypatch):
    keys = spark.createDataFrame([("a",), ("a",), ("b",)], "path string")
    bag = semi_keys(keys, 3, 2)
    assert not _deduplicates(bag) and proven_path_bound(bag) == 3
    monkeypatch.setattr(keyset, "BROADCAST_MAX", 2)
    distinct = semi_keys(keys, 3, 2)
    assert _deduplicates(distinct) and proven_path_bound(distinct) == 2
    assert sorted(r["path"] for r in distinct.collect()) == ["a", "b"]
    unbounded = semi_keys(keys, None)
    assert _deduplicates(unbounded) and proven_path_bound(unbounded) is None


def _traversals(infotons, triples, stats):
    customers = search(infotons, qp="rdfType::Customer,custkey<20", length=None, triples=triples, stats=stats)
    nation = search(infotons, qp="rdfType::Nation,nationkey::3", length=None, triples=triples, stats=stats)
    orders = search(infotons, qp="rdfType::Order", length=None)
    return [
        search(infotons, qp="words>m", length=None, triples=triples, stats=stats),
        traversal.expand_out(infotons, customers, "inNation>ofRegion", triples=triples, stats=stats),
        traversal.expand_paths(infotons, triples, nation, "<inNation|<inNation[rdfType::Customer]", stats=stats),
        traversal.gqp_filter(infotons, triples, orders, ">byCustomer[mktsegment::BUILDING]", stats=stats),
        traversal.gqp_filter(infotons, triples, orders, ">byCustomer>inNation[nationkey::3]|>byCustomer", stats=stats),
    ]


def test_distinct_route_returns_the_same_rows(infotons, triples, stats, monkeypatch):
    bag_route = [_hashes(df) for df in _traversals(infotons, triples, stats)]
    monkeypatch.setattr(keyset, "BROADCAST_MAX", 0)
    assert [_hashes(df) for df in _traversals(infotons, triples, stats)] == bag_route
    assert all(bag_route)


# ---- (c) histogram fill ---------------------------------------------------


def _hist_rows(infotons, min_doc_count):
    size = F.element_at(F.col("fields").getItem("size"), 1)["value"].cast("int")
    parts = search(infotons, qp="rdfType::Part", length=None).where((size <= 5) | (size >= 46))
    ap = f"type:hist,field::size,interval:5,minDocCount:{min_doc_count}"
    df = aggregate(parts, ap)[0].df
    return df, [tuple(r) for r in df.collect()]


def test_min_doc_count_zero_still_fills_empty_buckets(infotons):
    _df, rows = _hist_rows(infotons, 0)
    keys = [k for k, _n in rows]
    assert keys == [float(k) for k in range(int(keys[0]), int(keys[-1]) + 5, 5)]
    assert any(n == 0 for _k, n in rows) and any(n > 0 for _k, n in rows)


def test_min_doc_count_one_skips_the_fill_and_keeps_the_rows(infotons):
    _filled, rows0 = _hist_rows(infotons, 0)
    df, rows1 = _hist_rows(infotons, 1)
    assert rows1 == [r for r in rows0 if r[1] >= 1]
    assert "sequence(" not in df._jdf.queryExecution().optimizedPlan().toString()
    assert "sequence(" in _filled._jdf.queryExecution().optimizedPlan().toString()


# ---- driver rows built in the JVM ------------------------------------------


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


@pytest.fixture
def made_frames(monkeypatch):
    """Every frame SparkSession.createDataFrame makes while the test runs."""
    made = []
    real = SparkSession.createDataFrame

    def spy(self, *args, **kwargs):
        df = real(self, *args, **kwargs)
        made.append(df)
        return df

    monkeypatch.setattr(SparkSession, "createDataFrame", spy)
    return made


def _no_python_rdd(frames) -> None:
    assert frames
    for df in frames:
        assert "PythonRDD" not in _lineage(df)


def test_local_frame_keeps_rows_and_types(spark):
    rows = [("a", 1, None), ("b", 2, "z")]
    df = keyset.local_frame(spark, rows, "k string, n int, v string")
    assert "PythonRDD" not in _lineage(df)
    assert dict(df.dtypes) == {"k": "string", "n": "int", "v": "string"}
    assert [tuple(r) for r in df.collect()] == rows
    assert keyset.local_frame(spark, [], "k string").count() == 0


@pytest.mark.parametrize(
    "query",
    [
        'SELECT ?s ?n WHERE { ?s <name> ?n . VALUES ?n { "NATION_3" "NATION_7" } }',
        'SELECT ?s WHERE { ?s <name> ?n . ?s <nationkey> ?k . VALUES (?n ?k) { ("NATION_3" UNDEF) (UNDEF "7") } }',
        "SELECT DISTINCT ?x WHERE { </tpch/nation/3> <ofRegion>* ?x }",
        'SELECT ?x WHERE { ?x <ofRegion>* </tpch/region/1> . ?x <rdfType> "Nation" }',
    ],
)
def test_sparql_inline_frames_are_built_in_the_jvm(triples, made_frames, query):
    from cm_well_spark.operators.sparql import sparql_query

    out = sparql_query(triples, query)
    assert out.count() >= 1
    _no_python_rdd(made_frames)


def test_gremlin_seed_frontier_is_built_in_the_jvm(infotons, triples, made_frames):
    from cm_well_spark.operators.gremlin import g

    seeds = g(infotons, triples).V("/tpch/customer/1", "/tpch/customer/2")
    _no_python_rdd(made_frames)
    hop = seeds.out("inNation")
    assert hop.count() >= 1
    # the seed frontier keeps its broadcast hint into the next hop
    assert "BroadcastHashJoin" in hop.frontier._jdf.queryExecution().executedPlan().toString()


def test_sp_bare_read_source_is_built_in_the_jvm(infotons, triples, made_frames):
    from cm_well_spark.operators.sp import populate

    paths = populate(infotons, triples, ["/tpch/region/2"])
    assert [r["path"] for r in paths.collect()] == ["/tpch/region/2"]
    _no_python_rdd(made_frames)


def test_incremental_compaction_frames_are_built_in_the_jvm(spark, sf_dir, tmp_path, made_frames):
    from cm_well_spark.model.compaction import compact, write_batch
    from cm_well_spark.model.lakehouse import materialize
    from cm_well_spark.operators.merge import COMMAND_SCHEMA

    dst = str(tmp_path / "store")
    shutil.copytree(materialize(spark, sf_dir), dst)
    assert compact(spark, dst, target_rows_per_file=2_000)["mode"] == "full"
    lm = datetime(2024, 4, 1)
    value = [{"value": "inc", "vtype": "s", "lang": None, "quad": None, "num": None, "ts": None, "bool": None}]
    cmds = spark.createDataFrame(
        [("/tpch/region/0", 1, "write", {"extra": value}, None, lm, "https")], COMMAND_SCHEMA
    )
    write_batch(spark, dst, cmds)
    made_frames.clear()  # the test's own command batch is a Python list
    assert compact(spark, dst, target_rows_per_file=2_000)["mode"] == "incremental"
    _no_python_rdd(made_frames)
