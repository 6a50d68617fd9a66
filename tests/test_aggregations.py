import pytest
from conftest import jobs_in
from pyspark.sql import functions as F

from cm_well_spark.operators.aggregations import AggregationError, aggregate, card_exact
from cm_well_spark.operators.search import search
from cm_well_spark.parsers.ap import ApParseError, parse_ap, TermAgg, HistAgg


def test_ap_parser_defaults():
    aggs = parse_ap("type:term,field::mktsegment")
    assert isinstance(aggs[0], TermAgg)
    assert aggs[0].size == 10 and aggs[0].field.exact


def test_ap_parser_nested_and_options():
    aggs = parse_ap("type:term,name:seg,field::mktsegment,size:3<type:stats,field::acctbal>")
    t = aggs[0]
    assert t.name == "seg" and t.size == 3
    assert len(t.subs) == 1 and t.subs[0].field.name == "acctbal"


def test_ap_parser_multi():
    aggs = parse_ap("type:stats,field::a~type:card,field::b,precisionThreshold:100")
    assert len(aggs) == 2
    assert aggs[1].precision_threshold == 100


def test_ap_parser_rejects():
    with pytest.raises(ApParseError):
        parse_ap("type:bogus,field::x")
    with pytest.raises(ApParseError):
        parse_ap(None)


def test_term_agg(infotons, spark, sf_dir):
    from cm_well_spark.sources import tables as tbl

    cust = search(infotons, qp="rdfType::Customer", length=None)
    res = aggregate(cust, "type:term,field::mktsegment")[0]
    got = {r["key"]: r["objects"] for r in res.df.collect()}
    raw = tbl.load_table(spark, sf_dir, "customer")
    exp = {r["c_mktsegment"]: r["cnt"] for r in raw.groupBy("c_mktsegment").agg(F.count("*").alias("cnt")).collect()}
    assert got == exp


def test_term_agg_analyzed_text_rejected(infotons):
    cust = search(infotons, qp="rdfType::Customer", length=None)
    with pytest.raises(AggregationError, match="fielddata disabled"):
        aggregate(cust, "type:term,field:mktsegment")


def test_stats_agg(infotons, spark, sf_dir):
    from cm_well_spark.sources import tables as tbl

    li = search(infotons, qp="rdfType::Lineitem", length=None)
    res = aggregate(li, "type:stats,field::quantity")[0]
    row = res.df.first()
    raw = tbl.load_table(spark, sf_dir, "lineitem")
    exp = raw.agg(
        F.count("l_quantity").alias("c"),
        F.min("l_quantity").alias("mn"),
        F.max("l_quantity").alias("mx"),
        F.avg("l_quantity").alias("av"),
        F.sum("l_quantity").alias("sm"),
    ).first()
    assert row["count"] == exp["c"]
    assert row["min"] == exp["mn"] and row["max"] == exp["mx"]
    assert abs(row["avg"] - exp["av"]) < 1e-9
    assert abs(row["sum"] - exp["sm"]) < 1e-6


def test_hist_agg_fill(infotons):
    parts = search(infotons, qp="rdfType::Part", length=None)
    res = aggregate(parts, "type:hist,field::size,interval:10")[0]
    rows = res.df.collect()
    keys = [r["key"] for r in rows]
    # contiguous buckets, interval 10
    assert keys == sorted(keys)
    diffs = {round(b - a) for a, b in zip(keys, keys[1:])}
    assert diffs in ({10}, set())


def test_hist_min_doc_count(infotons):
    parts = search(infotons, qp="rdfType::Part", length=None)
    res = aggregate(parts, "type:hist,field::size,interval:10,minDocCount:1")[0]
    assert all(r["objects"] >= 1 for r in res.df.collect())


def test_card_exact(infotons, spark, sf_dir):
    from cm_well_spark.sources import tables as tbl

    li = search(infotons, qp="rdfType::Lineitem", length=None)
    got = card_exact(li, "ofPart").first()["count"]
    raw = tbl.load_table(spark, sf_dir, "lineitem")
    assert got == raw.select("l_partkey").distinct().count()


def test_card_approx_within_tolerance(infotons):
    li = search(infotons, qp="rdfType::Lineitem", length=None)
    approx = aggregate(li, "type:card,field::ofPart,precisionThreshold:10000")[0].df.first()["count"]
    exact = card_exact(li, "ofPart").first()["count"]
    assert abs(approx - exact) / exact < 0.1  # reference docs: ±5-10%


def test_sig_terms(infotons):
    # foreground: high-balance customers; background: all customers
    base = search(infotons, qp="rdfType::Customer", length=None)
    fg = search(infotons, qp="rdfType::Customer,acctbal>9000", length=None)
    res = aggregate(fg, "type:sig,field::mktsegment,minDocCount:1", base=base)[0]
    rows = res.df.collect()
    assert all(r["score"] > 0 for r in rows)
    # every returned term must be over-represented in fg vs bg
    fg_n = fg.count()
    bg_n = base.count()
    for r in rows:
        assert r["objects"] / fg_n > r["bg_count"] / bg_n


def test_term_with_stats_sub(infotons, spark, sf_dir):
    from cm_well_spark.sources import tables as tbl

    cust = search(infotons, qp="rdfType::Customer", length=None)
    res = aggregate(cust, "type:term,field::mktsegment<type:stats,field::acctbal>")[0]
    sub = res.subs[0].df
    got = {r["key"]: (r["count"], round(r["sum"], 2)) for r in sub.collect()}
    raw = tbl.load_table(spark, sf_dir, "customer")
    exp_rows = raw.groupBy("c_mktsegment").agg(F.count("*").alias("c"), F.sum("c_acctbal").alias("s")).collect()
    exp = {r["c_mktsegment"]: (r["c"], round(r["s"], 2)) for r in exp_rows}
    assert got == exp


def test_session_window_gap_semantics(spark):
    from datetime import datetime

    from cm_well_spark.operators.aggregations import session_window_agg

    rows = [
        # user 1: two events 10 min apart -> one session; third 40 min
        # after the second -> new session
        (1, datetime(2024, 1, 1, 0, 0, 0), 1.0),
        (1, datetime(2024, 1, 1, 0, 10, 0), 2.0),
        (1, datetime(2024, 1, 1, 0, 50, 0), 4.0),
        # user 2: single event
        (2, datetime(2024, 1, 1, 12, 0, 0), 8.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = session_window_agg(df, gap="30 minutes").collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    assert len(by_user[1]) == 2 and len(by_user[2]) == 1
    first = sorted(by_user[1], key=lambda r: r["session_start"])[0]
    assert first["n_events"] == 2 and first["sum_value"] == 3.0
    # session end = last event + gap
    assert first["session_end"].startswith("2024-01-01 00:40:00")


def test_indexed_route_matches_doc_route(spark, infotons, triples, sf_dir):
    # triples without stats forces the indexed route; results must be
    # identical to the doc-map explode route
    from cm_well_spark.operators.aggregations import aggregate
    from cm_well_spark.operators.search import search

    cust = search(infotons, qp="rdfType::Customer", length=None)
    doc = aggregate(cust, "type:term,field::mktsegment")[0].df
    idx = aggregate(cust, "type:term,field::mktsegment", triples=triples)[0].df
    assert sorted(map(tuple, doc.collect())) == sorted(map(tuple, idx.collect()))
    # with stats and a small predicate, the doc route is chosen (no join
    # against the triples table in the plan)
    small_stats = {"mktsegment": {"n": 10}}
    import io, contextlib
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        aggregate(cust, "type:term,field::mktsegment", triples=triples, stats=small_stats)[0].df.explain()
    assert "LeftSemi" not in buf.getvalue()


def test_universe_types_elides_semi_join(spark, infotons, triples):
    """A pure type filter + predicate_stats rdftypes proof drops the indexed
    route's path semi-join: one pruned partition scan is the whole input.
    Results must match the joined route exactly."""
    import contextlib
    import io

    from cm_well_spark.operators.aggregations import aggregate
    from cm_well_spark.operators.search import search

    cust = search(infotons, qp="rdfType::Customer", length=None)
    # force the indexed route (n over threshold), kinds prove containment
    proof = {"mktsegment": {"n": 10_000_000, "vtypes": ["s"], "rdftypes": ["Customer"]}}
    joined = aggregate(cust, "type:term,field::mktsegment", triples=triples)[0].df
    elided = aggregate(
        cust, "type:term,field::mktsegment", triples=triples, stats=proof,
        universe_types=frozenset({"Customer"}),
    )[0].df
    assert sorted(map(tuple, joined.collect())) == sorted(map(tuple, elided.collect()))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        elided.explain()
    assert "Join" not in buf.getvalue()
    # no proof (kinds unknown or not contained) -> the join stays
    for bad in (None, ["Customer", "Supplier"]):
        stats = {"mktsegment": {"n": 10_000_000, "vtypes": ["s"], "rdftypes": bad}}
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            aggregate(
                cust, "type:term,field::mktsegment", triples=triples, stats=stats,
                universe_types=frozenset({"Customer"}),
            )[0].df.explain()
        assert "LeftSemi" in buf.getvalue()


def test_guard_text_answers_from_stats_without_job(spark, infotons, triples, sf_dir):
    """VERDICT r4 item 6: the vtype guard must not fire a probe job when
    predicate_stats already carries the field's vtypes."""
    import pytest

    from cm_well_spark.model.lakehouse import load_predicate_stats
    from cm_well_spark.operators.aggregations import AggregationError, _guard_text
    from cm_well_spark.parsers.ap import AggField

    stats = load_predicate_stats(spark, sf_dir)
    assert stats["acctbal"]["vtypes"] == ["w"]

    def probe():
        vt = _guard_text(
            infotons, AggField("acctbal", True), need_numeric=True, triples=triples, stats=stats
        )
        with pytest.raises(AggregationError, match="fielddata disabled"):
            _guard_text(infotons, AggField("name", False), triples=triples, stats=stats)
        return vt

    vt, jobs = jobs_in(spark, probe)
    assert vt == "w"
    assert jobs == []  # both answers came from stats alone


def test_hist_extended_bounds_in_plan(infotons, triples, spark, sf_dir):
    """The bucket-range fill (including extended bounds) happens inside the
    plan — results identical to the old driver-side bounds round trip."""
    from cm_well_spark.model.lakehouse import load_predicate_stats
    from cm_well_spark.operators.aggregations import aggregate

    stats = load_predicate_stats(spark, sf_dir)
    parts = infotons.where(F.col("path").startswith("/tpch/part/"))
    out = aggregate(
        parts,
        "type:hist,field::size,interval:10,minDocCount:0,extMax:120",
        triples=triples,
        stats=stats,
    )[0].df
    rows = {r["key"]: r["objects"] for r in out.collect()}
    assert max(rows) >= 120.0
    # contiguous buckets, zero-filled
    keys = sorted(rows)
    assert keys == [keys[0] + 10.0 * i for i in range(len(keys))]
