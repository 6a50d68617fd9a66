"""plans/keyset.restrict: one route rule for every key-set restriction,
and the write/graph paths that go through it."""

from __future__ import annotations

import ast
import re
from datetime import datetime
from pathlib import Path
from types import SimpleNamespace

import pytest
from conftest import jobs_in
from pyspark.sql import functions as F

from cm_well_spark.plans import keyset
from cm_well_spark.plans.keyset import export_path_bound, proven_path_bound, restrict


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


def test_counted_bound_costs_one_job(spark, table):
    """Counting a key frame is one job: it saves the checkpoint while it
    observes the count and range, and the restriction runs nothing."""
    keys = spark.createDataFrame([("/k/005",), ("/k/007",)], "p string")
    semi, jobs = jobs_in(spark, lambda: restrict(table, "path", keys))
    assert len(jobs) == 1
    assert proven_path_bound(keys) == 2
    assert [r["v"] for r in semi.orderBy("v").collect()] == [5, 7]


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


def _site_overwrite(env, tmp):
    from cm_well_spark.operators.admin import overwrite

    rows = env.infotons.where(F.col("path").isin("/tpch/region/0", "/tpch/nation/3")).withColumn(
        "index_time", F.col("index_time") + 1000
    )
    return overwrite(env.infotons, rows.withColumn("uuid", F.concat(F.lit("ow-"), "uuid")))


def _site_except_retain(env, tmp):
    from cm_well_spark.operators.gremlin import g

    t = g(env.infotons, env.triples).V().has("rdfType", "Region").store("regions")
    nations = t.V().has("rdfType", "Nation")
    return nations.out("ofRegion").retain("regions").paths().unionByName(nations.except_("regions").paths())


def _site_materializer(env, tmp):
    from cm_well_spark.streaming.materializer import SparqlTriggeredProcessor

    proc = SparqlTriggeredProcessor(
        env.spark, env.triples, "CONSTRUCT { ?n <locatedIn> ?r } WHERE { ?n <ofRegion> ?r }", str(tmp)
    )
    nk = F.element_at(F.col("fields").getItem("nationkey"), 1)["num"]
    proc.process_batch(env.infotons.where(F.col("path").startswith("/tpch/nation/") & (nk < 10)), 0)
    fresh = proc.process_batch(env.infotons.where(F.col("path").startswith("/tpch/nation/") & (nk >= 5)), 1)
    return fresh.unionByName(proc.read_derived())


def _docs(spark, texts, base=0):
    return spark.createDataFrame([(base + i, t) for i, t in enumerate(texts)], "doc_id long, text string")


_TEXTS = [
    "the quick brown fox jumps over the lazy dog today",
    "the quick brown fox jumps over the lazy cat today",
    "a totally unrelated document about spark partitions",
    "the quick brown fox naps under the lazy dog today",
    "nothing in common here at all whatsoever",
]


def _site_decontaminate(env, tmp):
    from cm_well_spark.operators.curation import decontaminate

    return decontaminate(_docs(env.spark, _TEXTS), _docs(env.spark, _TEXTS[:1], base=100), k=3)


def _site_jaccard_hot(env, tmp):
    from cm_well_spark.operators.dedup import jaccard_pairs

    return jaccard_pairs(_docs(env.spark, _TEXTS), threshold=0.2, k=2, max_shingle_freq=2)


def _site_incremental_hot(env, tmp):
    from cm_well_spark.operators.dedup import incremental_dedup_verdicts

    seen, new = _docs(env.spark, _TEXTS[:3]), _docs(env.spark, _TEXTS[3:] + _TEXTS[1:2], base=10)
    return incremental_dedup_verdicts(new, seen, threshold=0.3, k=2, max_shingle_freq=1)


_PATHS = ["/tpch/region/0", "/tpch/nation/3", "/tpch/nation/7"]


def _site_verify_paths(env, tmp):
    from cm_well_spark.operators.fix import verify_paths

    return verify_paths(env.infotons, env.triples, _PATHS)


def _site_info_path(env, tmp):
    from cm_well_spark.operators.admin import info_path

    return info_path(env.spark, env.sf_dir, _PATHS)


def _site_pull_infotons(env, tmp):
    from cm_well_spark.streaming.subscribe import pull_infotons

    uuids = [r["uuid"] for r in env.infotons.where(F.col("path").isin(_PATHS)).collect()]
    return pull_infotons(env.infotons, uuids).select("path", "uuid", "index_time")


def _site_url_filter(env, tmp):
    from cm_well_spark.operators.curation import url_filter

    urls = ["https://a.example.com/x", "http://bad.org", "https://good.net/p", "https://example.com.evil.io"]
    docs = env.spark.createDataFrame(list(enumerate(urls)), "doc_id long, url string")
    return url_filter(docs, ["example.com", "bad.org"])


# (cap, lowered value, plan text of the route the lowered cap forbids)
_FRAME = ("BROADCAST_MAX", 0, "strategy=broadcast")
_LIST = ("LITERAL_MAX", 1, " IN (")


@pytest.mark.parametrize(
    "site, route",
    [
        (_site_overwrite, _FRAME),
        (_site_except_retain, _FRAME),
        (_site_materializer, _FRAME),
        (_site_decontaminate, _FRAME),
        (_site_jaccard_hot, _FRAME),
        (_site_incremental_hot, _FRAME),
        (_site_verify_paths, _LIST),
        (_site_info_path, _LIST),
        (_site_pull_infotons, _LIST),
        (_site_url_filter, _LIST),
    ],
    ids=lambda v: v.__name__[len("_site_"):] if callable(v) else v[0],
)
def test_moved_sites_route_through_restrict(
    spark, infotons, triples, sf_dir, tmp_path, monkeypatch, site, route
):
    """Each moved key-set site takes its route from keyset.restrict: the
    plan has the route its cap allows (a broadcast for a small key frame,
    a literal list for a few driver keys), loses it when the cap is
    lowered, and the rows stay the same."""
    env = SimpleNamespace(spark=spark, infotons=infotons, triples=triples, sf_dir=sf_dir)
    cap, lowered, probe = route
    base = site(env, tmp_path / "base")
    assert probe in _analyzed(base)
    expected = _rows(base)
    assert expected
    monkeypatch.setattr(keyset, cap, lowered)
    capped = site(env, tmp_path / "capped")
    assert probe not in _analyzed(capped)
    assert _rows(capped) == expected


# the one semi join that keeps its own hint: SPARQL `VALUES ... UNDEF`,
# whose null-safe OR-equality is not a key equality restrict could express
_HINT_ALLOWED = {("operators/sparql/compiler.py", "F.broadcast(renamed)")}


def _hinted_key_joins(tree: ast.AST) -> set[tuple[int, str]]:
    """(line, right side) of every `.join(right, on, how)` with `how` a
    semi or anti join and `right` an `F.broadcast(...)` call or a name
    its function binds to one."""

    def is_hint(node):
        return isinstance(node, ast.Call) and ast.unparse(node.func) == "F.broadcast"

    found = set()
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        hinted = {
            t.id
            for n in ast.walk(fn)
            if isinstance(n, ast.Assign) and is_hint(n.value)
            for t in n.targets
            if isinstance(t, ast.Name)
        }
        for n in ast.walk(fn):
            if not (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and n.func.attr == "join"):
                continue
            args = dict(zip(("other", "on", "how"), n.args)) | {k.arg: k.value for k in n.keywords}
            how, right = args.get("how"), args.get("other")
            if not (isinstance(how, ast.Constant) and how.value in ("left_semi", "left_anti")):
                continue
            if is_hint(right) or (isinstance(right, ast.Name) and right.id in hinted):
                found.add((n.lineno, ast.unparse(right)))
    return found


def test_no_hand_hinted_key_set_joins():
    """Outside plans/keyset.py no semi or anti join in the package picks
    its own broadcast route; restrict picks it from the cap table."""
    root = Path(keyset.__file__).parents[1]
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "plans/keyset.py":
            continue
        for line, right in _hinted_key_joins(ast.parse(path.read_text())):
            if (rel, right) not in _HINT_ALLOWED:
                offenders.append(f"{rel}:{line} {right}")
    assert not offenders, offenders


@pytest.mark.parametrize("n", [keyset.LITERAL_MAX + 1, 1000])
def test_driver_list_above_literal_max_builds_its_key_frame_in_the_jvm(spark, infotons, n):
    """Past LITERAL_MAX a driver list becomes a key frame built through
    Arrow: its lineage holds no PythonRDD (a list of tuples would, and
    every scan of it would start Python workers), and the rows are the
    ones the keys select."""
    rows = {(r["path"], r["uuid"]) for r in infotons.select("path", "uuid").collect()}
    live = sorted({p for p, _u in rows})
    keys = live[: n - 10] + [f"/keyset/missing/{i}" for i in range(10)]
    semi = restrict(infotons, "path", keys)
    anti = restrict(infotons, "path", keys, anti=True)
    assert "strategy=broadcast" in _analyzed(semi)
    assert {tuple(r) for r in semi.select("path", "uuid").collect()} == {r for r in rows if r[0] in set(keys)}
    assert {tuple(r) for r in anti.select("path", "uuid").collect()} == {r for r in rows if r[0] not in set(keys)}

    def lineage(df):
        return df._jdf.queryExecution().toRdd().toDebugString()

    assert "PythonRDD" not in lineage(keyset.local_frame(spark, [(k,) for k in sorted(keys)], "k string"))
    # the probe sees a Python-built frame
    listed = spark.createDataFrame([(k,) for k in keys], "k string")
    assert "PythonRDD" in lineage(listed)
