"""Spark side of the plans: turn a plan entry into a call of the engine's
public functions that returns the result DataFrame.

The engine is reached only through `cm_well_spark`'s public modules
(lakehouse loaders, search/aggregate/traversal/SPARQL/consume operators
and the compaction writer) — the same calls a client of
the library makes.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cm_well_spark.model import fieldvals as fv
from cm_well_spark.model.compaction import reconciled_infotons, reconciled_triples
from cm_well_spark.model.lakehouse import lakehouse_dir, load_infotons, load_predicate_stats, load_triples
from cm_well_spark.operators import search as S

from plans import CHURN_NOTE, op_texts

# the change feed's fixed 'now', far past every index_time in the store
_FEED_NOW_MS = 1_800_000_000_000


class Store:
    """The store as a client sees it: loaders for one source directory.

    With `merge_on_read`, reads go through the compaction module's
    reconciled views (base + pending write deltas), built afresh per call
    and timed into `reconcile_s`. Counts how often predicate stats were
    served, which the traced run reports as
    `lakehouse.stats_served_ratio`."""

    def __init__(self, spark: SparkSession, sf_dir: str, merge_on_read: bool = False):
        self.spark = spark
        self.sf_dir = sf_dir
        self.merge_on_read = merge_on_read
        self.stats_calls = 0
        self.stats_served = 0
        self.reconcile_s: list[float] = []

    def _reconciled(self, view) -> DataFrame:
        t0 = time.perf_counter()
        df = view(self.spark, lakehouse_dir(self.sf_dir))
        self.reconcile_s.append(time.perf_counter() - t0)
        return df

    def inf(self) -> DataFrame:
        if self.merge_on_read:
            return self._reconciled(reconciled_infotons)
        return load_infotons(self.spark, self.sf_dir)

    def tri(self) -> DataFrame:
        if self.merge_on_read:
            return self._reconciled(reconciled_triples)
        return load_triples(self.spark, self.sf_dir)

    def stats(self) -> dict | None:
        st = load_predicate_stats(self.spark, self.sf_dir)
        self.stats_calls += 1
        self.stats_served += st is not None
        return st


def build_read(store: Store, op: dict) -> DataFrame:
    """The DataFrame of one kg_interactive read (columns match the op's
    oracle in plans.interactive_oracle; query texts from plans.op_texts)."""
    from cm_well_spark.operators.aggregations import aggregate, card_exact
    from cm_well_spark.operators.consume import consume, create_consumer
    from cm_well_spark.operators.sparql import sparql_query
    from cm_well_spark.operators.traversal import expand_out, expand_paths, gqp_filter

    p, n, t = op["params"], op["name"], op_texts(op)
    inf = store.inf()
    name = fv.first_value("name").alias("name")
    num = fv.first_num("acctbal").alias("acctbal")
    if n == "read_path":
        return S.read_path(inf, f"/tpch/{p['kind']}/{p['key']}").select("path", name)
    if n == "batch_get":
        keys = store.spark.createDataFrame([(f"/tpch/customer/{k}",) for k in p["keys"]], ["path"])
        return S.batch_get(inf, keys).select("path", name)
    if n == "consume":
        token = create_consumer(path=f"/tpch/{p['kind']}")
        _, df, status = consume(inf, token, chunk=p["chunk"], now_ms=_FEED_NOW_MS)
        if status != 200:
            raise RuntimeError(f"consume returned status {status}")
        return df.select("path", "index_time")
    if n in ("sparql_bgp", "sparql_multi_join"):
        return sparql_query(store.tri(), t["sparql"], stats=store.stats(), limit_cap=None, infotons=inf)
    if n == "gqp_filter":
        orders = S.search(inf, qp=t["qp"], length=None)
        return gqp_filter(inf, store.tri(), orders, t["gqp"], stats=store.stats()).select("path")

    tri, st = store.tri(), store.stats()
    if n == "search_sort_page":
        df = S.search(inf, qp=t["qp"], sort_by="-acctbal", offset=p["offset"], length=p["length"], triples=tri, stats=st)
        return df.select("path", num)
    if n.startswith("search_"):
        df = S.search(inf, qp=t["qp"], sort_by="path", length=10_000, triples=tri, stats=st)
        cols = {"search_equals": ("path", name, num), "search_range": ("path", num), "search_contains": ("path", name)}
        return df.select(*cols[n])
    seeds = S.search(inf, qp=t["qp"], length=None, triples=tri, stats=st)
    if n == "expand_out":
        return expand_out(inf, seeds, t["xg"], triples=tri, stats=st).select("path")
    if n == "expand_paths":
        return expand_paths(inf, tri, seeds, t["yg"], limit=1_000_000, stats=st).select("path")
    # aggregations over one entity type: the typed search is the universe
    universe = frozenset({t["qp"].split("::", 1)[1]})
    if n == "card_exact":
        return card_exact(seeds, p["field"], triples=tri, stats=st, universe_types=universe)
    df = aggregate(seeds, t["ap"], triples=tri, stats=st, universe_types=universe)[0].df
    if n == "agg_stats":
        return df.select("count", "min", "max", F.round("avg", 2).alias("avg"), F.round("sum", 2).alias("sum"))
    return df


def commands_frame(spark: SparkSession, batch: dict) -> DataFrame:
    from cm_well_spark.operators.merge import COMMAND_SCHEMA

    rows = [(p, s, op, f, d, lm, "https") for p, s, op, f, d, lm in batch["commands"]]
    return spark.createDataFrame(rows, COMMAND_SCHEMA)


def churn_read_path(store: Store, path: str) -> DataFrame:
    return S.read_path(store.inf(), path).select("path", "kind", "uuid")


def churn_search(store: Store, segment: str) -> DataFrame:
    """A qp search over the merge-on-read doc table (the filter compiles
    over the reconciled fields maps; no triples view is built)."""
    df = S.search(
        store.inf(), qp=f"rdfType::Customer,mktsegment::{segment}", sort_by="path", length=10_000,
        stats=store.stats(),
    )
    return df.select("path", fv.first_value(CHURN_NOTE).alias("note"))
