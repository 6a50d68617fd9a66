"""T1-T7 stream / consume / subscribe / materializer.

Registry tranche split out of the former single-module registry
(VERDICT r10 item 9); entry code is unchanged — shared helpers live in
`cm_well_spark.registry._core`.
"""

from cm_well_spark.model.lakehouse import REPO_ROOT
from cm_well_spark.registry._core import *  # noqa: F401,F403

@register(
    "consume_first_chunk",
    oracle="""
    SELECT '/tpch/nation/' || n_nationkey AS path,
           1710000000000 + n_nationkey AS index_time
    FROM nation ORDER BY index_time ASC LIMIT 10
    """,
)
def consume_first_chunk(spark, sf_dir):
    """T4 op=consume: resumable change feed ordered by index_time with the
    10s watermark guard (Application.scala:1395-1600, :1225)."""
    from cm_well_spark.operators.consume import consume, create_consumer

    token = create_consumer(path="/tpch/nation")
    _, df, status = consume(_inf(spark, sf_dir), token, chunk=10, now_ms=_FEED_NOW)
    assert status == 200
    return df.select("path", "index_time")


@register(
    "consume_resume_second_chunk",
    oracle="""
    SELECT '/tpch/nation/' || n_nationkey AS path FROM nation
    WHERE n_nationkey >= 10 ORDER BY n_nationkey
    """,
)
def consume_resume_second_chunk(spark, sf_dir):
    """T4 position-token resume: second call continues after the first
    chunk's boundary index_time (SortedConsumeState round trip)."""
    from cm_well_spark.operators.consume import consume, create_consumer

    inf = _inf(spark, sf_dir)
    token = create_consumer(path="/tpch/nation")
    token, _, _ = consume(inf, token, chunk=10, now_ms=_FEED_NOW)
    _, df, status = consume(inf, token, chunk=3000, now_ms=_FEED_NOW)
    assert status == 200
    return df.select("path")


@register(
    "bulk_consume_range",
    oracle="""
    WITH feed AS (
      SELECT '/tpch/lineitem/' || l_orderkey || '-' || l_linenumber || '-' ||
             row_number() OVER (PARTITION BY l_orderkey, l_linenumber
               ORDER BY l_quantity, l_extendedprice, l_discount, l_tax,
                        l_shipdate, l_partkey, l_suppkey) AS path,
             1760000000000
               + (l_orderkey * 10 + l_linenumber) * 8
               + row_number() OVER (PARTITION BY l_orderkey, l_linenumber
                   ORDER BY l_quantity, l_extendedprice, l_discount, l_tax,
                            l_shipdate, l_partkey, l_suppkey) - 1 AS index_time
      FROM lineitem
    ),
    b AS (
      SELECT max(index_time) + 1 AS u
      FROM (SELECT index_time FROM feed ORDER BY index_time LIMIT 1000)
    )
    SELECT path, index_time FROM feed WHERE index_time < (SELECT u FROM b)
    """,
)
def bulk_consume_range(spark, sf_dir):
    """T5 bulk-consume (replaces binRangeSearch): index_time range ≈
    length-hint. Promoted to hash-matched (VERDICT r9 item 4) via
    exact=True — the boundary becomes the exact length_hint-th
    index_time (sort-limit + max, deterministic), which the oracle
    replays with an ORDER BY/LIMIT rank cut; production keeps the
    default approxQuantile sketch (no sort at 100 TB), whose 0.5
    tolerance contract stays pytest-pinned in tests/test_consume.py."""
    from cm_well_spark.operators.consume import bulk_consume, create_consumer

    token = create_consumer(path="/tpch/lineitem")
    _, df, _ = bulk_consume(
        _inf(spark, sf_dir), token, length_hint=1000, now_ms=_FEED_NOW, exact=True
    )
    return df.select("path", "index_time")


@register(
    "subscribe_rule_match",
    oracle="""
    SELECT '/tpch/customer/' || c_custkey AS path FROM customer
    WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    """,
)
def subscribe_rule_match(spark, sf_dir):
    """T6 subscribe rule fan-out filter (Rule.scala:27-97): path prefix x
    match-map, applied to the feed (batch shown; streaming variant is the
    same Column on readStream)."""
    from cm_well_spark.streaming.subscribe import subscribe

    return subscribe(_inf(spark, sf_dir), "mktsegment:[BUILDING,MACHINERY]", "/tpch/customer").select("path")


@register(
    "materialized_view_sparql",
    oracle="""
    SELECT '/tpch/nation/' || n_nationkey AS s, 'locatedIn' AS p,
           '/tpch/region/' || n_regionkey AS o
    FROM nation
    """,
)
def materialized_view_sparql(spark, sf_dir):
    """T7 SPARQL-triggered materializer: two incremental change batches +
    an idempotent replay produce exactly the full CONSTRUCT closure
    (SparqlTriggeredProcessor.scala:30-59 semantics via foreachBatch)."""
    import shutil

    from cm_well_spark.streaming.materializer import SparqlTriggeredProcessor

    inf = _inf(spark, sf_dir)
    tri = _tri(spark, sf_dir)
    dd = os.path.join(
        REPO_ROOT, ".checkpoints", f"registry_mv_{os.path.basename(os.path.normpath(sf_dir))}"
    )
    shutil.rmtree(dd, ignore_errors=True)
    proc = SparqlTriggeredProcessor(
        spark, tri, "CONSTRUCT { ?n <locatedIn> ?r } WHERE { ?n <ofRegion> ?r }", dd
    )
    nk = F.element_at(F.col("fields").getItem("nationkey"), 1)["num"]
    b1 = inf.where(F.col("path").startswith("/tpch/nation/") & (nk < 10))
    b2 = inf.where(F.col("path").startswith("/tpch/nation/") & (nk >= 10))
    proc.process_batch(b1, 0)
    proc.process_batch(b2, 1)
    proc.process_batch(b1, 2)  # idempotent replay
    return proc.read_derived()


