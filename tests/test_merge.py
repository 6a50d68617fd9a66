"""Merge-writer tests — the FX6 behaviors (Merger.scala:55-239) plus
hypothesis property tests for the pure fold."""

import re
from datetime import datetime, timezone

import pytest
from hypothesis import given, settings, strategies as st

from cm_well_spark.operators.merge import (
    COMMAND_SCHEMA,
    apply_command,
    apply_commands,
    content_uuid,
    delete_fields_f,
    merge_fields,
    merge_versions,
)


def fv(value, quad=None, lang=None):
    return {"value": value, "vtype": "s", "lang": lang, "quad": quad, "num": None, "ts": None, "bool": None}


# ---- pure logic ----------------------------------------------------------


def test_field_union_on_rewrite():
    a = {"x": [fv("1")], "y": [fv("a")]}
    b = {"x": [fv("2")], "z": [fv("b")]}
    m = merge_fields(a, b)
    assert {v["value"] for v in m["x"]} == {"1", "2"}
    assert "y" in m and "z" in m


def test_union_dedups_same_value_quad():
    m = merge_fields({"x": [fv("1")]}, {"x": [fv("1")]})
    assert len(m["x"]) == 1


def test_value_precise_delete():
    cur = {"x": [fv("1"), fv("2")]}
    out = delete_fields_f(cur, {"x": [fv("1")]})
    assert [v["value"] for v in out["x"]] == ["2"]


def test_field_wipe_empty_set():
    cur = {"x": [fv("1")], "y": [fv("2")]}
    out = delete_fields_f(cur, {"x": []})
    assert "x" not in out and "y" in out


def test_quad_precise_delete():
    cur = {"x": [fv("1", quad="/g/a"), fv("1", quad="/g/b"), fv("1")]}
    out = delete_fields_f(cur, {"x": [fv("1", quad="/g/a")]})
    quads = {v.get("quad") for v in out["x"]}
    assert quads == {"/g/b", None}


def test_quad_wildcard_value_delete():
    cur = {"x": [fv("1", quad="/g/a"), fv("1", quad="/g/b"), fv("2")]}
    out = delete_fields_f(cur, {"x": [fv("1", quad="*")]})
    assert [v["value"] for v in out["x"]] == ["2"]


def test_untagged_only_delete():
    # quad None in the delete spec matches only untagged values
    cur = {"x": [fv("1", quad="/g/a"), fv("1")]}
    out = delete_fields_f(cur, {"x": [fv("1")]})
    assert [v.get("quad") for v in out["x"]] == ["/g/a"]


def test_star_field_quad_delete():
    # {'*': [FNull(quad)]} deletes every value tagged with that quad in ANY field
    cur = {"x": [fv("1", quad="/g/a"), fv("2")], "y": [fv("3", quad="/g/a")]}
    out = delete_fields_f(cur, {"*": [fv(None, quad="/g/a")]})
    assert [v["value"] for v in out["x"]] == ["2"]
    assert "y" not in out


def test_delete_then_add_in_one_update():
    state = ("ObjectInfoton", {"x": [fv("old")]})
    state = apply_command(state, {"op": "update", "delete_fields": {"x": []}, "fields": {"x": [fv("new")]}})
    assert [v["value"] for v in state[1]["x"]] == ["new"]


def test_delete_all_fields_tombstones():
    state = ("ObjectInfoton", {"x": [fv("1")]})
    state = apply_command(state, {"op": "delete_attributes", "delete_fields": {"x": []}})
    assert state[0] == "DeletedInfoton"


def test_write_after_delete_resurrects():
    state = ("DeletedInfoton", {})
    state = apply_command(state, {"op": "write", "fields": {"x": [fv("1")]}})
    assert state == ("ObjectInfoton", {"x": [fv("1")]})


def test_delete_on_delete_noop():
    state = ("DeletedInfoton", {})
    state = apply_command(state, {"op": "delete_attributes", "delete_fields": {"x": []}})
    assert state[0] == "DeletedInfoton"


def test_uuid_deterministic_and_content_addressed():
    lm = datetime(2021, 1, 1, tzinfo=timezone.utc)
    u1 = content_uuid("/a", lm, {"x": [fv("1")]})
    u2 = content_uuid("/a", lm, {"x": [fv("1")]})
    u3 = content_uuid("/a", lm, {"x": [fv("2")]})
    assert u1 == u2 != u3


# ---- property tests (reference test strategy: randomized command folds) --

_val = st.text(alphabet="abc", min_size=1, max_size=2)
_quad = st.sampled_from([None, "/g/1", "/g/2"])
_field = st.sampled_from(["f1", "f2", "f3"])


@st.composite
def _command(draw):
    op = draw(st.sampled_from(["write", "update", "delete_attributes", "delete_path"]))
    fields = {}
    deletes = {}
    if op in ("write", "update"):
        for f in draw(st.lists(_field, max_size=2, unique=True)):
            fields[f] = [fv(draw(_val), draw(_quad)) for _ in range(draw(st.integers(1, 2)))]
    if op in ("update", "delete_attributes"):
        for f in draw(st.lists(_field, max_size=2, unique=True)):
            if draw(st.booleans()):
                deletes[f] = []
            else:
                deletes[f] = [fv(draw(_val), draw(st.sampled_from([None, "*", "/g/1"])))]
    return {"op": op, "fields": fields, "delete_fields": deletes}


@given(st.lists(_command(), max_size=8))
@settings(max_examples=200, deadline=None)
def test_fold_invariants(cmds):
    state = ("missing", {})
    for c in cmds:
        state = apply_command(state, c)
        kind, fields = state
        # invariant: no empty value-sets survive
        assert all(len(vs) > 0 for vs in fields.values())
        # invariant: tombstone <=> no fields
        if kind == "DeletedInfoton":
            assert fields == {}
        # invariant: kind is well-defined
        assert kind in ("ObjectInfoton", "DeletedInfoton")
        # write resurrection: a write command always yields a live infoton
        if c["op"] == "write" and c["fields"]:
            assert kind == "ObjectInfoton"


@given(st.dictionaries(_field, st.lists(st.builds(lambda v, q: fv(v, q), _val, _quad), max_size=3), max_size=3))
@settings(max_examples=100, deadline=None)
def test_merge_idempotent(fields):
    m1 = merge_fields(fields, fields)
    # union with itself is itself (set semantics)
    assert {k: {(v["value"], v["quad"]) for v in vs} for k, vs in m1.items()} == {
        k: {(v["value"], v["quad"]) for v in vs} for k, vs in fields.items() if vs
    }


# ---- Spark surface -------------------------------------------------------


@pytest.fixture()
def commands_df(spark):
    lm = datetime(2024, 1, 1)
    rows = [
        # two writes to region 0: field union
        ("/tpch/region/0", 1, "write", {"extra": [fv("e1")]}, None, lm, "https"),
        ("/tpch/region/0", 2, "write", {"extra": [fv("e2")]}, None, lm, "https"),
        # delete the name of region 1
        ("/tpch/region/1", 1, "delete_attributes", None, {"name": []}, lm, "https"),
        # tombstone region 2 then resurrect
        ("/tpch/region/2", 1, "delete_path", None, None, lm, "https"),
        ("/tpch/region/2", 2, "write", {"name": [fv("REBORN")]}, None, lm, "https"),
        # brand new path
        ("/tpch/region/99", 1, "write", {"name": [fv("NEWREGION")]}, None, lm, "https"),
    ]
    return spark.createDataFrame(rows, COMMAND_SCHEMA)


def test_merge_versions_spark(infotons, commands_df):
    out = merge_versions(infotons, commands_df).collect()
    by_path = {}
    for r in out:
        by_path.setdefault(r["path"], []).append(r)
    r0 = sorted(by_path["/tpch/region/0"], key=lambda r: r["seq"])
    f0 = dict(r0[-1]["fields"])
    assert {v["value"] for v in f0["extra"]} == {"e1", "e2"}
    assert {v["value"] for v in f0["name"]} == {"AFRICA"}  # union kept original
    r1 = by_path["/tpch/region/1"][0]
    assert "name" not in dict(r1["fields"] or {})
    r2 = sorted(by_path["/tpch/region/2"], key=lambda r: r["seq"])
    assert r2[0]["kind"] == "DeletedInfoton"
    assert r2[1]["kind"] == "ObjectInfoton"
    r99 = by_path["/tpch/region/99"][0]
    assert dict(r99["fields"])["name"][0]["value"] == "NEWREGION"


def _canon(fields) -> tuple:
    """Order-free content of a fields map (driver dicts or collected Rows)."""
    out = []
    for k, vs in (fields or {}).items():
        vals = [v.asDict() if hasattr(v, "asDict") else v for v in vs]
        out.append((k, tuple(sorted(((v["value"], v["quad"], v["lang"], v["vtype"]) for v in vals), key=repr))))
    return tuple(sorted(out))


def _at(s):
    return datetime(2024, 1, 1, 0, 0, s, tzinfo=timezone.utc)


# path -> ordered (op, fields, delete_fields, protocol); 1-5 commands each
_BOUNDARY_BATCH = {
    # field union, then an update that wipes and replaces the field
    "/tpch/region/0": [
        ("write", {"extra": [fv("e1", quad="/g/a")]}, None, "https"),
        ("write", {"extra": [fv("e2")]}, None, "http"),
        ("update", {"extra": [fv("e3")]}, {"extra": []}, None),
    ],
    # quad-precise, untagged-only, '*'-field quad and field-wipe deletes
    "/tpch/region/1": [
        ("write", {"x": [fv("1", quad="/g/a"), fv("1"), fv("2", quad="/g/b")]}, None, "https"),
        ("delete_attributes", None, {"x": [fv("1", quad="/g/a")]}, "https"),
        ("delete_attributes", None, {"x": [fv("1")]}, "https"),
        ("delete_attributes", None, {"*": [fv(None, quad="/g/b")]}, "https"),
        ("delete_attributes", None, {"name": []}, "https"),
    ],
    # tombstone, then resurrect
    "/tpch/region/2": [
        ("delete_path", None, None, "https"),
        ("write", {"name": [fv("REBORN")]}, None, "https"),
    ],
    # the base already holds this value: a null update, no version
    "/tpch/region/3": [("write", {"name": [fv("EUROPE")]}, None, "https")],
    # any-quad value delete, tombstone, delete-on-delete
    "/tpch/region/4": [
        ("delete_attributes", None, {"name": [fv("MIDDLE EAST", quad="*")]}, "https"),
        ("delete_path", None, None, "https"),
        ("delete_attributes", None, {"regionkey": []}, "https"),
    ],
    # an update, then a write of what it left: the second is a null update
    "/tpch/nation/8": [
        ("update", {"name": [fv("N8")]}, {"name": []}, "https"),
        ("write", {"name": [fv("N8")]}, None, "https"),
    ],
    # paths with no base row
    "/new/a": [
        ("write", {"f": [fv("1")]}, None, "https"),
        ("update", {"f": [fv("2")]}, {"f": [fv("1")]}, "https"),
        ("delete_path", None, None, "https"),
        ("write", {"f": [fv("3")]}, None, None),
    ],
    "/new/b": [("update", {"g": [fv("x", quad="/g/a")]}, {"g": []}, "https")],
    "/new/c": [("delete_attributes", None, {"h": []}, "https")],
    "/new/d": [
        ("write", {"f": [fv("1")]}, None, "https"),
        ("write", {"f": [fv("1")]}, None, "https"),
    ],
}


def _driver_fold(base: dict) -> list[tuple]:
    """The batch folded on the driver, one command at a time."""
    out = []
    for path, cmds in _BOUNDARY_BATCH.items():
        state, protocol, prev = ("missing", {}), "https", None
        if path in base:
            kind, fields, protocol = base[path]
            state, prev = (kind, fields), (kind, _canon(fields))
        for seq, (op, f, d, proto) in enumerate(cmds, 1):
            state = apply_command(state, {"op": op, "fields": f or {}, "delete_fields": d or {}})
            sig = (state[0], _canon(state[1]))
            if sig == prev:
                continue
            prev = sig
            uuid = content_uuid(path, _at(seq), state[1])
            out.append((path, seq, uuid, state[0], proto or protocol, sig[1]))
    return sorted(out)


def test_merge_versions_path_spans_arrow_batches(spark, infotons):
    """With two records per Arrow batch, most paths' rows (current
    version + 1-5 commands) span batch boundaries; the fold must carry
    each path's state across them."""
    rows = [
        (path, seq, op, f, d, _at(seq), proto)
        for path, cmds in _BOUNDARY_BATCH.items()
        for seq, (op, f, d, proto) in enumerate(cmds, 1)
    ]
    cmds = spark.createDataFrame(rows, COMMAND_SCHEMA)
    base = {
        r["path"]: (r["kind"], {k: [v.asDict() for v in vs] for k, vs in r["fields"].items()}, r["protocol"])
        for r in infotons.where("current")
        .where(infotons.path.isin(list(_BOUNDARY_BATCH)))
        .select("path", "kind", "fields", "protocol")
        .collect()
    }
    assert len(base) == 6  # five regions and one nation; /new/* have none
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        got = merge_versions(infotons, cmds).collect()
    finally:
        spark.conf.set(key, old)
    got = sorted((r["path"], r["seq"], r["uuid"], r["kind"], r["protocol"], _canon(r["fields"])) for r in got)
    want = _driver_fold(base)
    assert got == want
    # the batch exercises both null-update skips and a delete-on-delete
    assert ("/tpch/region/3", 1) not in {(p, s) for p, s, *_ in want}
    assert [s for p, s, *_ in want if p == "/new/d"] == [1]


# Spark's Python operators, as node names at the head of a plan line
_PY_NODE = re.compile(
    r"^[\s:+-]*(?:FlatMap(?:Co)?GroupsIn(?:Pandas|Arrow)|(?:Python)?MapIn(?:Pandas|Arrow)"
    r"|ArrowEvalPython|BatchEvalPython)\b",
    re.M,
)


def test_merge_plans_have_one_python_map(infotons, commands_df):
    """One Arrow map operator per write plan: no cogroup, and the fold is
    not re-planned per consumer (the current-flip once held it 3 times)."""
    for df in (merge_versions(infotons, commands_df), apply_commands(infotons, commands_df)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapCoGroupsInPandas" not in plan
        assert len(_PY_NODE.findall(plan)) == 1, plan


def test_apply_commands_versioning(infotons, commands_df):
    table = apply_commands(infotons, commands_df)
    # history retained: region 0 has 3 versions (1 original + 2 writes)
    hist = table.where("path = '/tpch/region/0'").orderBy("index_time").collect()
    assert len(hist) == 3
    assert [r["current"] for r in hist] == [False, False, True]
    # search sees only the latest
    from cm_well_spark.operators.search import read_path, search

    latest = read_path(table, "/tpch/region/0").collect()
    assert len(latest) == 1
    f = dict(latest[0]["fields"])
    assert {v["value"] for v in f["extra"]} == {"e1", "e2"}
    # tombstone resurrect: region 2 current is the reborn object
    r2 = read_path(table, "/tpch/region/2").first()
    assert dict(r2["fields"])["name"][0]["value"] == "REBORN"
    # with-deleted visibility: intermediate tombstone exists in history
    h2 = table.where("path = '/tpch/region/2'").collect()
    assert any(r["kind"] == "DeletedInfoton" for r in h2)
    # untouched paths unchanged
    assert table.where("path = '/tpch/region/3' AND current").count() == 1


def test_null_update_skipped(infotons, spark):
    from datetime import datetime

    from cm_well_spark.operators.merge import COMMAND_SCHEMA, apply_commands

    def sfv(v):
        return {"value": v, "vtype": "s", "lang": None, "quad": None, "num": None, "ts": None, "bool": None}

    cmds = spark.createDataFrame(
        [("/tpch/region/4", 1, "write", {"tag": [sfv("a")]}, None, datetime(2024, 1, 1), "https")],
        COMMAND_SCHEMA,
    )
    t1 = apply_commands(infotons, cmds)
    t2 = apply_commands(t1, cmds)  # identical content -> no new version
    assert t2.where("path = '/tpch/region/4'").count() == 2  # original + 1 merge
    assert t2.where("path = '/tpch/region/4' AND current").count() == 1


def test_top_level_path_hierarchy(spark):
    """r9 sequence-audit fix: sequence(1, 0) runs DESCENDING in Spark,
    so a 2-segment path used to list ITSELF in parent_hierarchy. A
    top-level write must report parent '/' and hierarchy ['/'] only."""
    from datetime import datetime

    from cm_well_spark.operators.merge import COMMAND_SCHEMA, apply_commands
    from cm_well_spark.model.schema import INFOTON_SCHEMA

    sfv = {"value": "v", "vtype": "s", "lang": None, "quad": None,
           "num": None, "ts": None, "bool": None}
    table = spark.createDataFrame([], INFOTON_SCHEMA)
    cmds = spark.createDataFrame(
        [("/toplevel", 1, "write", {"f": [sfv]}, None, datetime(2024, 1, 1), "https"),
         ("/a/b/c", 1, "write", {"f": [sfv]}, None, datetime(2024, 1, 1), "https")],
        COMMAND_SCHEMA,
    )
    out = {r["path"]: r for r in apply_commands(table, cmds).collect()}
    assert out["/toplevel"]["parent"] == "/"
    assert list(out["/toplevel"]["parent_hierarchy"]) == ["/"]
    assert list(out["/a/b/c"]["parent_hierarchy"]) == ["/", "/a", "/a/b"]


# ---- the one version fold ------------------------------------------------


def test_equal_index_time_marks_the_higher_uuid_current(spark, tmp_path):
    """Two versions of a path at one index_time: every writer and view
    marks the higher uuid current, the last row of the change feed's
    (index_time, uuid) order. /tie/new gains the higher uuid, /tie/old
    keeps it; /tie/other is outside the key set and keeps its stale
    flags."""
    import os

    from cm_well_spark.model.compaction import reconciled_infotons
    from cm_well_spark.model.lakehouse import stored_schema
    from cm_well_spark.operators.admin import overwrite
    from cm_well_spark.operators.fix import repair_versions
    from cm_well_spark.operators.merge import fold_versions

    schema = stored_schema(spark, "infotons")

    def versions(rows):
        cols = schema.fieldNames()
        return spark.createDataFrame(
            [
                tuple({"path": p, "uuid": u, "kind": "ObjectInfoton", "index_time": 7, "current": c}.get(f) for f in cols)
                for p, u, c in rows
            ],
            schema,
        )

    base = versions([("/tie/new", "u1", True), ("/tie/old", "u4", True), ("/tie/other", "u5", True), ("/tie/other", "u6", True)])
    new = versions([("/tie/new", "u2", False), ("/tie/old", "u3", False)])
    keys = ["/tie/new", "/tie/old"]
    want = {
        ("/tie/new", "u1", False),
        ("/tie/new", "u2", True),
        ("/tie/old", "u3", False),
        ("/tie/old", "u4", True),
        ("/tie/other", "u5", True),
        ("/tie/other", "u6", True),
    }

    def flags(df):
        return {(r["path"], r["uuid"], r["current"]) for r in df.collect()}

    assert flags(fold_versions(base, new, keys)) == want
    assert flags(overwrite(base, new)) == want
    assert flags(repair_versions(base.unionByName(new), keys)) == want

    out = str(tmp_path / "store")
    base.write.partitionBy("kind").parquet(os.path.join(out, "infotons"))
    new.write.parquet(os.path.join(out, "infotons_delta", "batch=0"))
    assert flags(reconciled_infotons(spark, out)) == want


def _current_windows(tree):
    """(line, enclosing function) of every row_number() window over
    partitionBy("path") whose leading order key is index_time: the
    shape of a hand-written `current` recompute."""
    import ast

    def is_current_window(node):
        calls = [n for n in ast.walk(node) if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)]
        by_path = any(
            c.func.attr == "partitionBy" and [ast.unparse(a) for a in c.args] == ["'path'"] for c in calls
        )
        by_time = any(c.func.attr == "orderBy" and c.args and "'index_time'" in ast.unparse(c.args[0]) for c in calls)
        return by_path and by_time

    found = set()
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        bound = {
            t.id: n.value
            for n in ast.walk(fn)
            if isinstance(n, ast.Assign)
            for t in n.targets
            if isinstance(t, ast.Name)
        }
        for n in ast.walk(fn):
            if not (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "over"
                and ast.unparse(n.func.value) == "F.row_number()"
                and n.args
            ):
                continue
            w = n.args[0]
            w = bound.get(w.id, w) if isinstance(w, ast.Name) else w
            if is_current_window(w):
                found.add((n.lineno, fn.name))
    return found


def test_current_is_set_by_one_window():
    """merge.mark_current is the only window that decides `current`;
    every other site calls it (or fold_versions). Other per-path windows
    — decorate_versions' seq numbering, snapshot_at's last_modified
    head — order by something else first and are not flagged."""
    import ast
    from pathlib import Path

    import cm_well_spark

    root = Path(cm_well_spark.__file__).parent
    found = {
        (path.relative_to(root).as_posix(), fn)
        for path in sorted(root.rglob("*.py"))
        for _line, fn in _current_windows(ast.parse(path.read_text()))
    }
    assert found == {("operators/merge.py", "mark_current")}
