"""plans/keyset.restrict: one route rule for every key-set restriction,
and the write/graph paths that go through it."""

from __future__ import annotations

import re
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from cm_well_spark.plans import keyset
from cm_well_spark.plans.bounds import export_path_bound, proven_path_bound
from cm_well_spark.plans.keyset import restrict


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def table(spark):
    return spark.createDataFrame(
        [(f"/k/{i:03d}", i) for i in range(40)] + [(None, -1)], "path string, v int"
    )


def test_literal_route_and_anti_keeps_nulls(table):
    keys = ["/k/003", "/k/010", "/k/999", None]
    semi = restrict(table, "path", keys)
    assert "strategy=broadcast" not in _analyzed(semi)
    assert [r["v"] for r in semi.orderBy("v").collect()] == [3, 10]
    anti = restrict(table, "path", keys, anti=True)
    assert anti.count() == 41 - 2  # the NULL path never matches, so it stays
    assert restrict(table, "path", []).count() == 0
    assert restrict(table, "path", [], anti=True).count() == 41


def test_list_above_literal_max_broadcasts(table, monkeypatch):
    monkeypatch.setattr(keyset, "LITERAL_MAX", 1)
    keys = ["/k/003", "/k/010"]
    semi = restrict(table, "path", keys)
    assert "strategy=broadcast" in _analyzed(semi)
    assert [r["v"] for r in semi.orderBy("v").collect()] == [3, 10]
    monkeypatch.setattr(keyset, "BROADCAST_MAX", 1)
    plain = restrict(table, "path", keys, anti=True)
    assert "strategy=broadcast" not in _analyzed(plain)
    assert plain.count() == 39


def test_frame_counted_once_and_never_collected(spark, table, monkeypatch):
    keys = spark.createDataFrame([("/k/005",), ("/k/007",)], "p string")
    assert proven_path_bound(keys) is None
    semi = restrict(table, "path", keys)
    # the counted bound is exported on the caller's frame...
    assert proven_path_bound(keys) == 2
    # ...and the route is a broadcast join with the counted key range,
    # never a literal list
    plan = _analyzed(semi)
    assert "strategy=broadcast" in plan and " IN (" not in plan
    assert [r["v"] for r in semi.orderBy("v").collect()] == [5, 7]
    # a proof above the cap leaves the join to AQE
    big = export_path_bound(spark.createDataFrame([("/k/005",)], "p string"), 2)
    monkeypatch.setattr(keyset, "BROADCAST_MAX", 1)
    plain = restrict(table, "path", big, anti=True)
    assert "strategy=broadcast" not in _analyzed(plain)
    assert plain.count() == 40


def _batch(spark, paths):
    from cm_well_spark.operators.merge import COMMAND_SCHEMA

    lm = datetime(2024, 6, 1)
    fv = {"value": "k", "vtype": "s", "lang": None, "quad": None, "num": None, "ts": None, "bool": None}
    rows = [(p, 1, "write", {"keyset": [fv]}, None, lm, "https") for p in paths]
    return spark.createDataFrame(rows, COMMAND_SCHEMA)


def test_apply_commands_above_broadcast_cap_is_not_hinted(spark, infotons, monkeypatch):
    """A batch of LITERAL_MAX + 1 paths goes through the broadcast route;
    with BROADCAST_MAX below the batch it must fall back to plain joins
    (no broadcast hint anywhere in the plan) and return the same rows."""
    from cm_well_spark.operators.merge import apply_commands

    live = sorted(r["path"] for r in infotons.where("current").select("path").collect())
    paths = live[: keyset.LITERAL_MAX] + ["/keyset/new"]
    assert len(paths) == keyset.LITERAL_MAX + 1
    cols = ["path", "uuid", "kind", "index_time", "current"]

    hinted = apply_commands(infotons, _batch(spark, paths), index_time_base=10**12)
    assert "strategy=broadcast" in _analyzed(hinted)
    expected = _rows(hinted.select(*cols))

    monkeypatch.setattr(keyset, "BROADCAST_MAX", keyset.LITERAL_MAX)
    plain = apply_commands(infotons, _batch(spark, paths), index_time_base=10**12)
    assert "strategy=broadcast" not in _analyzed(plain)
    got = _rows(plain.select(*cols))
    assert hash(tuple(got)) == hash(tuple(expected))
    assert sum(1 for r in got if r[0] in set(paths) and r[4]) == len(paths)


def _longest_in_list(df) -> int:
    plan = _analyzed(df)
    return max((len(m.split(",")) for m in re.findall(r" IN \(([^()]*)\)", plan)), default=0)


def test_personalized_pagerank_many_seeds_embed_no_literal_list(triples, monkeypatch):
    """More than LITERAL_MAX seeds: no round embeds the seed list as an In
    literal, and the ranks equal the all-literal run."""
    from cm_well_spark.operators import graph

    seeds = sorted(
        r["s"]
        for r in triples.where(F.col("current") & (F.col("p") == "byCustomer"))
        .select("s").distinct().limit(keyset.LITERAL_MAX + 20).collect()
    )
    assert len(seeds) > keyset.LITERAL_MAX

    def ranks():
        out = graph.personalized_pagerank(triples, seeds, graph.DEFAULT_LINK_FIELDS, iterations=2)
        return out, _rows(out.select("path", F.round("rank", 12)))

    with monkeypatch.context() as m:
        # un-truncated plan: every round's scan restriction stays visible
        m.setattr(graph, "iter_checkpoint_lazy", lambda df: df)
        assert _longest_in_list(ranks()[0]) <= keyset.LITERAL_MAX
        m.setattr(keyset, "LITERAL_MAX", 10 * len(seeds))
        assert _longest_in_list(ranks()[0]) >= len(seeds)  # the probe sees lists

    got = ranks()[1]
    monkeypatch.setattr(keyset, "LITERAL_MAX", 10 * len(seeds))
    assert got == ranks()[1] and got
