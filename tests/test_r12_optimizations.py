"""Focused contracts for the r12 optimizations (second optimization
round). Each pins a cache-hygiene or plan-shape promise the round's
changes make, independent of the oracle matrix.

  pagerank / personalized_pagerank leave NO CacheManager entry behind:
  neither persists a round relation any more (pagerank carries rank and
  out-degree on sources; personalized pagerank restricts each round to
  its frontier), so a leaked entry would be a regression
  (VERDICT r11 item 1).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _rebuild_round_relations(triples):
    """The plans the pagerank family once persisted (the raw edge
    relation and the out-degree relation; neither operator persists them
    now). CacheManager matches on analyzed-plan sameResult, so a fresh
    identical plan finds any leaked entry."""
    from cm_well_spark.operators.graph import DEFAULT_LINK_FIELDS, reference_edges

    edges = reference_edges(triples, DEFAULT_LINK_FIELDS)
    out_deg = edges.groupBy("src").agg(F.count("*").alias("odeg"))
    return edges, out_deg


def test_pagerank_unpersists_round_relations(spark, triples):
    from cm_well_spark.operators.graph import DEFAULT_LINK_FIELDS, pagerank

    out = pagerank(triples, DEFAULT_LINK_FIELDS, iterations=3)
    assert out.count() > 0
    edges, out_deg = _rebuild_round_relations(triples)
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.lookupCachedData(edges._jdf).isEmpty()
    assert cm.lookupCachedData(out_deg._jdf).isEmpty()


def test_stale_stats_refuse_proof_paths(spark, sf_dir):
    """VERDICT r11 item 5: a stats snapshot whose store fingerprint no
    longer matches must degrade to NO stats (None — never an empty dict,
    which would read as proven-zero hop bounds), and the stats-less
    fallback must return identical rows."""
    import json
    import os

    from cm_well_spark.model.lakehouse import (
        _STATS_FPR,
        load_infotons,
        load_predicate_stats,
        load_triples,
        materialize,
    )
    from cm_well_spark.operators.traversal import expand_out

    out = materialize(spark, sf_dir)
    fresh = load_predicate_stats(spark, sf_dir)
    assert fresh and "inNation" in fresh

    inf = load_infotons(spark, sf_dir)
    tri = load_triples(spark, sf_dir)
    seeds = inf.where("path = '/tpch/customer/1'").select("path")
    with_stats = sorted(
        r["path"]
        for r in expand_out(inf, seeds, "inNation>ofRegion", triples=tri, stats=fresh)
        .select("path")
        .collect()
    )

    fp = os.path.join(out, _STATS_FPR)
    orig = open(fp).read()
    try:
        with open(fp, "w") as fh:
            json.dump({"store": "doctored-stale"}, fh)
        assert load_predicate_stats(spark, sf_dir) is None
        without_stats = sorted(
            r["path"]
            for r in expand_out(inf, seeds, "inNation>ofRegion", triples=tri, stats=None)
            .select("path")
            .collect()
        )
        assert with_stats == without_stats and with_stats
    finally:
        with open(fp, "w") as fh:
            fh.write(orig)
    assert load_predicate_stats(spark, sf_dir) is not None


def test_personalized_pagerank_unpersists_round_relations(spark, triples):
    from cm_well_spark.operators.graph import DEFAULT_LINK_FIELDS, personalized_pagerank

    seed = triples.where(F.col("current")).select("s").first()["s"]
    out = personalized_pagerank(triples, [seed], DEFAULT_LINK_FIELDS, iterations=2)
    assert out.count() > 0
    edges, out_deg = _rebuild_round_relations(triples)
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.lookupCachedData(edges._jdf).isEmpty()
    assert cm.lookupCachedData(out_deg._jdf).isEmpty()


def test_path_bound_carrier_contract(spark, sf_dir):
    """VERDICT r11 item 8 / ADVICE: the proven-bound side-channel is now
    an explicit carrier (plans/bounds.py). Reader never crashes on a
    column literally named like the attribute, never returns a non-int,
    and a transformation dropping the attribute degrades to the counted
    fallback with identical rows."""
    from cm_well_spark.model.lakehouse import (
        load_infotons,
        load_predicate_stats,
        load_triples,
    )
    from cm_well_spark.operators import search as S
    from cm_well_spark.operators.traversal import expand_out
    from cm_well_spark.plans.keyset import proven_path_bound

    inf = load_infotons(spark, sf_dir)
    tri = load_triples(spark, sf_dir)
    st = load_predicate_stats(spark, sf_dir)
    seeds = S.search(inf, qp="rdfType::Customer,custkey<20", length=None, triples=tri, stats=st)
    assert isinstance(proven_path_bound(seeds), int)
    # any transformation drops the carrier -> None, not a Column
    assert proven_path_bound(seeds.select("path")) is None
    # a dataset column named like the attribute must not shadow the read
    shadowed = seeds.select("path", F.lit(1).alias("_cmw_path_bound"))
    assert proven_path_bound(shadowed) is None
    out = expand_out(inf, shadowed.select("path"), "inNation>ofRegion", triples=tri, stats=st)
    assert out.count() > 0


def test_traversal_seed_count_elided(spark, sf_dir):
    """The registry's xg/yg shapes (index-route seeds with stats) must
    fire ZERO counted checkpoints — the stats proof licenses every
    broadcast; dropping the carrier re-pays exactly the seed count and
    returns identical rows."""
    from cm_well_spark.model.lakehouse import (
        load_infotons,
        load_predicate_stats,
        load_triples,
    )
    from cm_well_spark.operators import search as S
    from cm_well_spark.operators import traversal

    inf = load_infotons(spark, sf_dir)
    tri = load_triples(spark, sf_dir)
    st = load_predicate_stats(spark, sf_dir)
    calls = []
    orig = traversal.iter_checkpoint_count

    def spy(df):
        calls.append(1)
        return orig(df)

    traversal.iter_checkpoint_count = spy
    try:
        seeds = S.search(inf, qp="rdfType::Customer,custkey<20", length=None, triples=tri, stats=st)
        bounded_rows = sorted(
            r["path"]
            for r in traversal.expand_out(inf, seeds, "inNation>ofRegion", triples=tri, stats=st)
            .select("path").collect()
        )
        assert calls == [], "stats-proven traversal paid a counted checkpoint"
        unbounded = seeds.select("path")  # drops the carrier
        fallback_rows = sorted(
            r["path"]
            for r in traversal.expand_out(inf, unbounded, "inNation>ofRegion", triples=tri, stats=st)
            .select("path").collect()
        )
        assert len(calls) == 1, "carrier-less seeds must pay exactly the seed count"
        assert bounded_rows == fallback_rows and bounded_rows
    finally:
        traversal.iter_checkpoint_count = orig
