"""Seeded operation plans for the workloads, and their oracles.

A plan is plain data (dicts, lists, strings): which operation to run, with
which parameters, in which order. It is a pure function of the seed and
of the raw tables (the fixed test tables under `data/`), so the same seed
always yields the same plan. Nothing here imports Spark; the Spark side
lives in `ops.py`.

Every read template of `kg_interactive` carries a parameterized DuckDB
oracle over the raw tables, in the style of the registry's `oracle=`
strings. `kg_write_churn` is checked by invariants (see `expected_effects`).
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow.parquet as pq

WORKLOADS = ("kg_interactive", "kg_write_churn")

# the raw source tables the store is built from (cm_well_spark.sources)
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# index_time of the ingest build: base + kind slot * 1e10 + key
# (cm_well_spark.model.builder), which is what the change feed orders by
_INDEX_TIME_BASE = 1_700_000_000_000
_KIND_SLOT = {"nation": 1, "supplier": 3}

# name-carrying entity kinds: (table, key column, name column)
_NAMED = {
    "customer": ("customer", "c_custkey", "c_name"),
    "supplier": ("supplier", "s_suppkey", "s_name"),
    "part": ("part", "p_partkey", "p_name"),
    "nation": ("nation", "n_nationkey", "n_name"),
}
_AGG_TERM = [  # (rdfType, field, table, column)
    ("Customer", "mktsegment", "customer", "c_mktsegment"),
    ("Order", "orderpriority", "orders", "o_orderpriority"),
    ("Order", "orderstatus", "orders", "o_orderstatus"),
]
_AGG_STATS = [
    ("Lineitem", "quantity", "lineitem", "l_quantity"),
    ("Lineitem", "discount", "lineitem", "l_discount"),
    ("Lineitem", "extendedprice", "lineitem", "l_extendedprice"),
    ("Order", "totalprice", "orders", "o_totalprice"),
]
_CARD = [("ofPart", "l_partkey"), ("bySupplier", "l_suppkey"), ("ofOrder", "l_orderkey")]


# write-batch sizes of one churn cycle: one below and one above the
# 256-path literal cap of the merge writer
CHURN_BATCH_SIZES = (128, 384)
CHURN_NOTE = "benchNote"


def _rng(seed: int, workload: str) -> np.random.Generator:
    return np.random.default_rng([seed, WORKLOADS.index(workload)])


def _col(sf_dir: str, table: str, column: str) -> list:
    return pq.read_table(os.path.join(sf_dir, f"{table}.parquet"), columns=[column]).column(0).to_pylist()


def raw_bytes(sf_dir: str) -> int:
    """On-disk size of the raw tables: the user data the store holds."""
    return sum(os.path.getsize(os.path.join(sf_dir, f"{t}.parquet")) for t in TABLES)


def _pick(rng: np.random.Generator, values) -> object:
    values = list(values)
    v = values[int(rng.integers(0, len(values)))]
    return v.item() if hasattr(v, "item") else v


# ---------------------------------------------------------------------------
# kg_interactive: one parameterized instance of each read template
# ---------------------------------------------------------------------------


def interactive_plan(seed: int, sf_dir: str) -> list[dict]:
    """One instance of every read template, parameters drawn from values
    present in the raw tables. The run repeats this list in rounds, each
    round in its own seeded order (`round_order`)."""
    rng = _rng(seed, "kg_interactive")
    cust = _col(sf_dir, "customer", "c_custkey")
    segs = sorted(set(_col(sf_dir, "customer", "c_mktsegment")))
    bals = _col(sf_dir, "customer", "c_acctbal")
    words = sorted({w for n in _col(sf_dir, "part", "p_name") for w in n.split()})
    nations = sorted(set(_col(sf_dir, "customer", "c_nationkey")))
    statuses = sorted(set(_col(sf_dir, "orders", "o_orderstatus")))

    kind = _pick(rng, sorted(_NAMED))
    ops = [
        {"name": "read_path", "params": {"kind": kind, "key": _pick(rng, _col(sf_dir, _NAMED[kind][0], _NAMED[kind][1]))}},
        {"name": "batch_get", "params": {"keys": sorted(int(k) for k in rng.choice(cust, int(rng.integers(5, 21)), replace=False))}},
        {"name": "search_equals", "params": {"segment": _pick(rng, segs)}},
        {"name": "search_range", "params": {"acctbal": round(float(np.quantile(bals, rng.uniform(0.3, 0.9))), 0)}},
        {"name": "search_contains", "params": {"word": _pick(rng, words)}},
        {"name": "search_sort_page", "params": {"offset": int(rng.integers(0, 41)), "length": 20}},
        {"name": "agg_term", "params": dict(zip(("rdf_type", "field", "table", "column"), _AGG_TERM[int(rng.integers(0, len(_AGG_TERM)))]))},
        {"name": "agg_stats", "params": dict(zip(("rdf_type", "field", "table", "column"), _AGG_STATS[int(rng.integers(0, len(_AGG_STATS)))]))},
        {"name": "agg_hist", "params": {"interval": _pick(rng, (5, 10, 20))}},
        {"name": "card_exact", "params": dict(zip(("field", "column"), _CARD[int(rng.integers(0, len(_CARD)))]))},
        {"name": "expand_out", "params": {"max_custkey": int(rng.integers(5, 31))}},
        {"name": "expand_paths", "params": {"nation": _pick(rng, nations)}},
        {"name": "gqp_filter", "params": {"segment": _pick(rng, segs)}},
        {"name": "sparql_bgp", "params": {"segment": _pick(rng, segs)}},
        {"name": "sparql_multi_join", "params": {"segment": _pick(rng, segs), "status": _pick(rng, statuses)}},
        {"name": "consume", "params": {"kind": _pick(rng, sorted(_KIND_SLOT)), "chunk": int(rng.integers(5, 16))}},
    ]
    return ops


def round_order(seed: int, workload: str, n_ops: int, round_no: int) -> list[int]:
    """Seeded permutation of the plan's ops for one round."""
    rng = np.random.default_rng([seed, WORKLOADS.index(workload), 1 + round_no])
    return [int(i) for i in rng.permutation(n_ops)]


def _q(s: str) -> str:
    return "'" + str(s).replace("'", "''") + "'"


def op_texts(op: dict) -> dict[str, str]:
    """The query texts a kg_interactive op hands to the engine, keyed by
    the parser that reads them (qp, ap, xg, yg, gqp, sparql). The traced
    run times parsing them as `parsers.parse_s`."""
    p, n = op["params"], op["name"]
    qp = {
        "search_equals": f"rdfType::Customer,mktsegment::{p.get('segment')}",
        "search_range": f"rdfType::Customer,acctbal>{p.get('acctbal')}",
        "search_contains": f"rdfType::Part,name:{p.get('word')}",
        "search_sort_page": "rdfType::Customer",
        "agg_term": f"rdfType::{p.get('rdf_type')}",
        "agg_stats": f"rdfType::{p.get('rdf_type')}",
        "agg_hist": "rdfType::Part",
        "card_exact": "rdfType::Lineitem",
        "expand_out": f"rdfType::Customer,custkey<{p.get('max_custkey')}",
        "expand_paths": f"rdfType::Nation,nationkey::{p.get('nation')}",
        "gqp_filter": "rdfType::Order",
    }.get(n)
    texts = {"qp": qp} if qp else {}
    if n in ("agg_term", "agg_stats"):
        texts["ap"] = f"type:{n[4:]},field::{p['field']}"
    elif n == "agg_hist":
        texts["ap"] = f"type:hist,field::size,interval:{p['interval']},minDocCount:1"
    elif n == "expand_out":
        texts["xg"] = "inNation>ofRegion"
    elif n == "expand_paths":
        texts["yg"] = "<inNation[rdfType::Customer]"
    elif n == "gqp_filter":
        texts["gqp"] = f">byCustomer[mktsegment::{p['segment']}]"
    elif n == "sparql_bgp":
        texts["sparql"] = (
            "SELECT ?c ?n WHERE { ?c <inNation> ?nat . ?nat <name> ?n . "
            f'?c <mktsegment> "{p["segment"]}" . }}'
        )
    elif n == "sparql_multi_join":
        texts["sparql"] = (
            "SELECT ?o ?n WHERE { ?o <byCustomer> ?c . ?c <inNation> ?nat . "
            f'?nat <name> ?n . ?c <mktsegment> "{p["segment"]}" . '
            f'?o <orderstatus> "{p["status"]}" . }}'
        )
    return texts


def interactive_oracle(op: dict) -> str:
    """DuckDB SQL over the raw tables giving the op's expected rows."""
    p, n = op["params"], op["name"]
    if n == "read_path":
        table, key, name = _NAMED[p["kind"]]
        return f"SELECT '/tpch/{p['kind']}/' || {key} AS path, {name} AS name FROM {table} WHERE {key} = {p['key']}"
    if n == "batch_get":
        keys = ", ".join(str(k) for k in p["keys"])
        return f"SELECT '/tpch/customer/' || c_custkey AS path, c_name AS name FROM customer WHERE c_custkey IN ({keys})"
    if n == "search_equals":
        return (
            "SELECT '/tpch/customer/' || c_custkey AS path, c_name AS name, c_acctbal AS acctbal "
            f"FROM customer WHERE c_mktsegment = {_q(p['segment'])}"
        )
    if n == "search_range":
        return f"SELECT '/tpch/customer/' || c_custkey AS path, c_acctbal AS acctbal FROM customer WHERE c_acctbal > {p['acctbal']}"
    if n == "search_contains":
        return (
            "SELECT '/tpch/part/' || p_partkey AS path, p_name AS name FROM part WHERE "
            "contains(' ' || trim(regexp_replace(lower(p_name), '[^a-z0-9]+', ' ', 'g')) || ' ', "
            f"{_q(' ' + p['word'] + ' ')})"
        )
    if n == "search_sort_page":
        return (
            "SELECT path, acctbal FROM (SELECT '/tpch/customer/' || c_custkey AS path, c_acctbal AS acctbal "
            f"FROM customer ORDER BY c_acctbal DESC, path ASC) LIMIT {p['length']} OFFSET {p['offset']}"
        )
    if n == "agg_term":
        return f"SELECT {p['column']} AS key, count(*) AS objects FROM {p['table']} GROUP BY 1"
    if n == "agg_stats":
        c = p["column"]
        return (
            f"SELECT count({c}) AS count, min({c}) AS min, max({c}) AS max, "
            f"round(avg({c}), 2) AS avg, round(sum({c}), 2) AS sum FROM {p['table']}"
        )
    if n == "agg_hist":
        i = p["interval"]
        return f"SELECT CAST(floor(p_size / {i}) * {i} AS DOUBLE) AS key, count(*) AS objects FROM part GROUP BY 1"
    if n == "card_exact":
        return f"SELECT count(DISTINCT {p['column']}) AS count FROM lineitem"
    if n == "expand_out":
        k = p["max_custkey"]
        return (
            f"SELECT '/tpch/customer/' || c_custkey AS path FROM customer WHERE c_custkey < {k} "
            f"UNION SELECT DISTINCT '/tpch/nation/' || c_nationkey FROM customer WHERE c_custkey < {k} "
            "UNION SELECT DISTINCT '/tpch/region/' || n_regionkey FROM customer "
            f"JOIN nation ON n_nationkey = c_nationkey WHERE c_custkey < {k}"
        )
    if n == "expand_paths":
        return (
            f"SELECT '/tpch/nation/{p['nation']}' AS path UNION "
            f"SELECT '/tpch/customer/' || c_custkey FROM customer WHERE c_nationkey = {p['nation']}"
        )
    if n == "gqp_filter":
        return (
            "SELECT '/tpch/orders/' || o_orderkey AS path FROM orders WHERE o_custkey IN "
            f"(SELECT c_custkey FROM customer WHERE c_mktsegment = {_q(p['segment'])})"
        )
    if n == "sparql_bgp":
        return (
            "SELECT '/tpch/customer/' || c_custkey AS c, n_name AS n FROM customer "
            f"JOIN nation ON c_nationkey = n_nationkey WHERE c_mktsegment = {_q(p['segment'])}"
        )
    if n == "sparql_multi_join":
        return (
            "SELECT '/tpch/orders/' || o_orderkey AS o, n_name AS n FROM orders "
            "JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey "
            f"WHERE c_mktsegment = {_q(p['segment'])} AND o_orderstatus = {_q(p['status'])}"
        )
    if n == "consume":
        table, key = ("nation", "n_nationkey") if p["kind"] == "nation" else ("supplier", "s_suppkey")
        base = _INDEX_TIME_BASE + _KIND_SLOT[p["kind"]] * 10_000_000_000
        return (
            f"SELECT '/tpch/{p['kind']}/' || {key} AS path, {base} + {key} AS index_time "
            f"FROM {table} ORDER BY index_time LIMIT {p['chunk']}"
        )
    raise ValueError(f"unknown read template {n!r}")


# ---------------------------------------------------------------------------
# kg_write_churn: versioned command batches
# ---------------------------------------------------------------------------


def _value(v: str) -> dict:
    return {"value": v, "vtype": "s", "lang": None, "quad": None, "num": None, "ts": None, "bool": None}


def churn_plan(seed: int, sf_dir: str, n_cycles: int = 16) -> list[list[dict]]:
    """`n_cycles` cycles of one batch per size in CHURN_BATCH_SIZES, the
    smaller first, so the cold first write of a run is always the same
    size. A batch is {"commands",
    "read_path", "search_segment"}: the commands, then the path read back
    and the customer segment searched after the batch is written.
    Each command is (path, seq, op, fields, delete_fields, last_modified):

      - field writes add a `benchNote` value to customers and orders;
      - field deletes wipe a customer's `acctbal`;
      - path deletes remove orders;
      - new paths create `/bench/note/...` infotons.

    Customers only get writes and field deletes, orders only writes and
    path deletes, so the last command on a path fixes what a read of it
    must show (`expected_effects`)."""
    rng = _rng(seed, "kg_write_churn")
    cust = _col(sf_dir, "customer", "c_custkey")
    orders = _col(sf_dir, "orders", "o_orderkey")
    segs = sorted(set(_col(sf_dir, "customer", "c_mktsegment")))
    t0 = datetime(2024, 6, 1)

    def batch(size: int, tag: str, lm: datetime) -> dict:
        n_new = size // 5
        n_cust = min(len(cust), size * 9 // 20)
        n_ord = min(len(orders), size - n_new - n_cust)
        cmds = []
        for k in rng.choice(cust, n_cust, replace=False):
            path = f"/tpch/customer/{int(k)}"
            if rng.random() < 2 / 3:
                cmds.append((path, 1, "write", {CHURN_NOTE: [_value(f"n{tag}")]}, None, lm))
            else:
                cmds.append((path, 1, "delete_attributes", None, {"acctbal": []}, lm))
        for k in rng.choice(orders, n_ord, replace=False):
            path = f"/tpch/orders/{int(k)}"
            if rng.random() < 0.7:
                cmds.append((path, 1, "write", {CHURN_NOTE: [_value(f"n{tag}")]}, None, lm))
            else:
                cmds.append((path, 1, "delete_path", None, None, lm))
        for j in range(n_new):
            fields = {"rdfType": [_value("Note")], CHURN_NOTE: [_value(f"n{tag}")]}
            cmds.append((f"/bench/note/{tag}-{j}", 1, "write", fields, None, lm))
        cmds = [cmds[int(i)] for i in rng.permutation(len(cmds))]
        return {
            "commands": cmds,
            "read_path": cmds[int(rng.integers(0, len(cmds)))][0],
            "search_segment": _pick(rng, segs),
        }

    return [
        [
            batch(size, f"{seed}-{c}-{b}", t0 + timedelta(minutes=c * len(CHURN_BATCH_SIZES) + b))
            for b, size in enumerate(CHURN_BATCH_SIZES)
        ]
        for c in range(n_cycles)
    ]


def expected_effects(batches: list[dict]) -> dict[str, tuple[str, str | None]]:
    """Last effect per path over the applied batches, in order:
    ("note", value) the note value must be present; ("no_acctbal", None)
    the acctbal field must be gone; ("deleted", None) the path must read
    as deleted."""
    out: dict[str, tuple[str, str | None]] = {}
    for batch in batches:
        for path, _seq, op, fields, _dels, _lm in batch["commands"]:
            if op == "write":
                out[path] = ("note", fields[CHURN_NOTE][0]["value"])
            elif op == "delete_attributes":
                prev = out.get(path)
                # a field wipe after a write leaves the note in place;
                # what must hold is the missing acctbal
                out[path] = ("no_acctbal", None) if prev is None or prev[0] != "note" else ("note+no_acctbal", prev[1])
            else:
                out[path] = ("deleted", None)
    return out


def payload_bytes(batch: dict) -> int:
    """Size of a batch as a client would send it (JSON of its commands)."""
    import json

    return len(json.dumps([(c[0], c[1], c[2], c[3], c[4], c[5].isoformat()) for c in batch["commands"]]))
