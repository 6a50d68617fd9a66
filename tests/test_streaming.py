import os
import shutil

import pytest
from pyspark.sql import functions as F

from cm_well_spark.streaming.subscribe import (
    Rule,
    RuleParseError,
    ingest_stream,
    parse_rule,
    rule_filter,
    subscribe,
)

TMP = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".checkpoints", "test_streaming")


@pytest.fixture(autouse=True)
def _clean():
    shutil.rmtree(TMP, ignore_errors=True)
    os.makedirs(TMP, exist_ok=True)
    yield


# ---- rule grammar (RTSQueryPredicate, Parsers.scala:303-351) -------------


def test_rule_default_recursive_path():
    r = parse_rule("", "/tpch")
    assert r == Rule("/tpch", True, ())


def test_rule_dash_nonrecursive():
    r = parse_rule("-", "/tpch")
    assert r.recursive is False


def test_rule_star_ignores_path():
    r = parse_rule("*", "/tpch")
    assert r.path is None


def test_rule_match_map():
    r = parse_rule("mktsegment:[BUILDING,MACHINERY],name:x", "/")
    assert dict(r.match_map) == {"mktsegment": ("BUILDING", "MACHINERY"), "name": ("x",)}


def test_rule_bad():
    with pytest.raises(RuleParseError):
        parse_rule("::", "/")


# ---- batch semantics of the filter ---------------------------------------


def test_rule_filter_path_and_match(infotons):
    r = parse_rule("mktsegment:BUILDING", "/tpch/customer")
    n = infotons.where(rule_filter(r)).count()
    expected = infotons.where(
        F.col("path").startswith("/tpch/customer/")
        & F.coalesce(
            F.exists(F.col("fields").getItem("mktsegment"), lambda v: v["value"] == "BUILDING"), F.lit(False)
        )
    ).count()
    assert n == expected > 0


def test_rule_match_or_semantics(infotons):
    # MatchMap: ANY entry firing is a match
    r = parse_rule("*rdfType:[Region],name:AFRICA", "/")
    n = infotons.where(rule_filter(r)).count()
    assert n == 5  # all regions (rdfType=Region fires regardless of name)


# ---- streaming end-to-end -------------------------------------------------


def test_subscribe_stream_end_to_end(spark, infotons):
    feed_dir = os.path.join(TMP, "feed")
    os.makedirs(feed_dir, exist_ok=True)
    # wave 1: regions
    infotons.where(F.col("path").startswith("/tpch/region")).write.mode("append").parquet(feed_dir)
    stream = subscribe(ingest_stream(spark, feed_dir), "", "/tpch/region")
    q = (
        stream.writeStream.format("memory")
        .queryName("subs1")
        .option("checkpointLocation", os.path.join(TMP, "ck1"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) AS n FROM subs1").first()["n"]
    assert got == 5


def test_materializer_incremental(spark, infotons, triples):
    from cm_well_spark.streaming.materializer import SparqlTriggeredProcessor

    derived_dir = os.path.join(TMP, "derived")
    proc = SparqlTriggeredProcessor(
        spark,
        triples,
        "CONSTRUCT { ?n <locatedIn> ?r } WHERE { ?n <ofRegion> ?r }",
        derived_dir,
    )
    # batch 1: nations 0..9 change
    b1 = infotons.where(
        F.col("path").startswith("/tpch/nation/") & (F.element_at(F.col("fields").getItem("nationkey"), 1)["num"] < 10)
    )
    proc.process_batch(b1, 0)
    d1 = proc.read_derived()
    assert d1.count() == 10
    # batch 2: remaining nations
    b2 = infotons.where(
        F.col("path").startswith("/tpch/nation/") & (F.element_at(F.col("fields").getItem("nationkey"), 1)["num"] >= 10)
    )
    proc.process_batch(b2, 1)
    d2 = proc.read_derived()
    assert d2.count() == 25
    # idempotent re-process of batch 1: no duplicates
    proc.process_batch(b1, 2)
    assert proc.read_derived().count() == 25
    assert proc.read_derived().select("p").distinct().first()["p"] == "locatedIn"


def test_materializer_requires_construct(spark, triples):
    from cm_well_spark.streaming.materializer import SparqlTriggeredProcessor

    with pytest.raises(ValueError, match="CONSTRUCT"):
        SparqlTriggeredProcessor(spark, triples, "SELECT ?s WHERE { ?s <x> ?o }", TMP)


def test_materializer_retraction(spark, infotons, triples):
    """A changed doc that no longer matches WHERE loses its derived rows
    (ADVICE r1 medium: the r1 upsert never retracted)."""
    from cm_well_spark.streaming.materializer import SparqlTriggeredProcessor

    derived_dir = os.path.join(TMP, "derived_retract")
    proc = SparqlTriggeredProcessor(
        spark,
        triples,
        "CONSTRUCT { ?n <locatedIn> ?r } WHERE { ?n <ofRegion> ?r }",
        derived_dir,
    )
    nations = infotons.where(F.col("path").startswith("/tpch/nation/"))
    proc.process_batch(nations, 0)
    assert proc.read_derived().count() == 25
    # nation/3 changes: new version WITHOUT the ofRegion field
    gone = nations.where(F.col("path") == "/tpch/nation/3").withColumn(
        "fields", F.map_filter(F.col("fields"), lambda k, v: k != "ofRegion")
    )
    proc.process_batch(gone, 1)
    d = proc.read_derived()
    assert d.count() == 24
    assert d.where(F.col("s") == "/tpch/nation/3").count() == 0


def test_materializer_object_side_dependency(spark, infotons, triples):
    """A doc bound as a JOINED term (not the derived subject) pulls the
    dependent subjects into the recompute when it changes."""
    from cm_well_spark.streaming.materializer import SparqlTriggeredProcessor

    derived_dir = os.path.join(TMP, "derived_objdep")
    proc = SparqlTriggeredProcessor(
        spark,
        triples,
        "CONSTRUCT { ?n <inRegionNamed> ?rn } WHERE { ?n <ofRegion> ?r . ?r <name> ?rn }",
        derived_dir,
    )
    nations = infotons.where(F.col("path").startswith("/tpch/nation/"))
    regions = infotons.where(F.col("path").startswith("/tpch/region/"))
    proc.process_batch(nations.unionByName(regions), 0)
    d0 = proc.read_derived()
    assert d0.count() == 25
    # region/1 renamed: every nation in region/1 must pick up the new name
    r1 = regions.where(F.col("path") == "/tpch/region/1")
    renamed = r1.withColumn(
        "fields",
        F.map_zip_with(
            F.col("fields"),
            F.col("fields"),
            lambda k, v, _: F.when(
                k == "name", F.transform(v, lambda x: x.withField("value", F.lit("RENAMED")))
            ).otherwise(v),
        ),
    )
    proc.process_batch(renamed, 1)
    d1 = proc.read_derived()
    assert d1.count() == 25
    in_r1 = infotons.where(
        F.col("path").startswith("/tpch/nation/")
        & F.exists(F.col("fields").getItem("ofRegion"), lambda v: v["value"] == "/tpch/region/1")
    ).count()
    assert in_r1 > 0
    assert d1.where(F.col("o") == "RENAMED").count() == in_r1
    # subjects outside region/1 are untouched
    assert d1.exceptAll(d0).count() == in_r1


def test_materializer_no_full_base_dedup_plan(spark, infotons, triples):
    """The per-batch scope must NOT shuffle the whole base table: no
    Deduplicate/dropDuplicates over base∪batch in the recompute plan."""
    from cm_well_spark.streaming.materializer import SparqlTriggeredProcessor

    derived_dir = os.path.join(TMP, "derived_plan")
    proc = SparqlTriggeredProcessor(
        spark,
        triples,
        "CONSTRUCT { ?n <locatedIn> ?r } WHERE { ?n <ofRegion> ?r }",
        derived_dir,
    )
    b = infotons.where(F.col("path").startswith("/tpch/nation/"))
    out = proc.process_batch(b, 0)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "dropDuplicates" not in plan
    assert " IN (" not in plan  # no driver-collected literal subject lists


def test_qstream_dir_filtered_feed(spark, infotons):
    # S12 qstream over the file transport: qp + path filters apply to the
    # live feed; a second appended wave is picked up on the next trigger
    from cm_well_spark.operators.admin import qstream_dir

    feed_dir = os.path.join(TMP, "qstream_feed")
    os.makedirs(feed_dir, exist_ok=True)
    infotons.where(F.col("path").startswith("/tpch/customer")).write.mode("append").parquet(feed_dir)
    stream = qstream_dir(spark, feed_dir, qp="mktsegment::BUILDING", path="/tpch/customer")
    ck = os.path.join(TMP, "ck_qstream")
    q = (
        stream.writeStream.format("memory")
        .queryName("qs1")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    expected = infotons.where(
        F.col("path").startswith("/tpch/customer")
        & F.exists(F.col("fields").getItem("mktsegment"), lambda v: v["value"] == "BUILDING")
    ).count()
    got = spark.sql("SELECT count(*) AS n FROM qs1").first()["n"]
    assert got == expected > 0
    # wave 2: nations are outside the path filter -> still only the wave-1
    # matches (memory sink cannot resume a checkpoint, so re-read all)
    infotons.where(F.col("path").startswith("/tpch/nation")).write.mode("append").parquet(feed_dir)
    q2 = (
        qstream_dir(spark, feed_dir, qp="mktsegment::BUILDING", path="/tpch/customer")
        .writeStream.format("memory")
        .queryName("qs2")
        .option("checkpointLocation", os.path.join(TMP, "ck_qstream2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert spark.sql("SELECT count(*) AS n FROM qs2").first()["n"] == expected


def test_qstream_kafka_contract_replay(spark, infotons):
    """S12/W1 broker-less Kafka contract (VERDICT r5 item 9): (1) the
    resolved reader options are exactly the spark-sql-kafka contract;
    (2) fixture messages replayed in the wire schema through the REAL
    parse+filter path yield the same rows and schema as the file-transport
    twin — only the broker connection itself stays environmental."""
    from cm_well_spark.operators.admin import (
        KAFKA_WIRE_SCHEMA,
        qstream_parse,
        qstream_reader_options,
    )

    from cm_well_spark.operators.admin import qstream_writer_options, to_kafka_wire

    fmt, opts = qstream_reader_options("broker1:9092,broker2:9092", "persist_topic.priority")
    assert fmt == "kafka"
    assert opts["kafka.bootstrap.servers"] == "broker1:9092,broker2:9092"
    assert opts["subscribe"] == "persist_topic.priority"
    assert opts["startingOffsets"] == "earliest"
    assert opts["failOnDataLoss"] == "true"
    wfmt, wopts = qstream_writer_options("broker1:9092", "persist_topic.priority")
    assert wfmt == "kafka" and wopts["topic"] == "persist_topic.priority"

    # fixture replay: the PRODUCE side serializes real infotons via
    # to_kafka_wire (key/value — all a producer controls); the broker-
    # assigned columns (topic/partition/offset/timestamp) are stamped on
    # top, completing the fixed wire shape the consumer sees
    src = infotons.where(
        F.col("path").startswith("/tpch/customer") | F.col("path").startswith("/tpch/nation")
    )
    wire = (
        to_kafka_wire(src)
        .withColumn("topic", F.lit("persist_topic.priority"))
        .withColumn("partition", (F.crc32(F.col("key").cast("string")) % 4).cast("int"))
        .withColumn("offset", F.monotonically_increasing_id())
        .withColumn("timestamp", F.current_timestamp())
        .withColumn("timestampType", F.lit(0))
    )
    def shape(schema):  # names + types; nullability is source-specific
        return [(f.name, f.dataType) for f in schema.fields]

    assert shape(wire.schema) == shape(KAFKA_WIRE_SCHEMA)

    parsed = qstream_parse(wire, qp="mktsegment::BUILDING", path="/tpch/customer")
    twin = src.where(
        F.col("path").startswith("/tpch/customer")
        & F.exists(F.col("fields").getItem("mktsegment"), lambda v: v["value"] == "BUILDING")
    )
    # same schema as the file-transport feed (ingest_stream reads with
    # INFOTON_SCHEMA — the canonical feed shape)...
    from cm_well_spark.model.schema import INFOTON_SCHEMA

    assert shape(parsed.schema) == shape(INFOTON_SCHEMA)
    # ...and the same delivered set
    got = {r["uuid"] for r in parsed.select("uuid").collect()}
    want = {r["uuid"] for r in twin.select("uuid").collect()}
    assert got == want and len(got) > 0


@pytest.mark.skipif(
    not os.environ.get("CMW_KAFKA_BOOTSTRAP"),
    reason=(
        "live Kafka broker smoke: set CMW_KAFKA_BOOTSTRAP=host:port to run. "
        "Permanent env gate in this sandbox — no broker binary, no "
        "spark-sql-kafka jar, no pip installs (the broker-less contract "
        "replay above pins the wire schema, reader options, and "
        "parse+filter parity; only the TCP connection itself is untested)."
    ),
)
def test_qstream_live_broker_smoke(spark, infotons):
    """S12/W1 against a real broker: produce a small wire batch to the
    configured topic, read it back with the resolved reader options, and
    assert the parsed feed matches the file-transport twin. Requires the
    spark-sql-kafka package on the session classpath."""
    from cm_well_spark.operators.admin import (
        qstream_parse,
        qstream_reader_options,
        qstream_writer_options,
        to_kafka_wire,
    )

    bootstrap = os.environ["CMW_KAFKA_BOOTSTRAP"]
    topic = os.environ.get("CMW_KAFKA_TOPIC", "cmw_smoke")
    src = infotons.where(F.col("path").startswith("/tpch/region")).limit(10)
    wfmt, wopts = qstream_writer_options(bootstrap, topic)
    to_kafka_wire(src).write.format(wfmt).options(**wopts).save()
    rfmt, ropts = qstream_reader_options(bootstrap, topic)
    wire = spark.read.format(rfmt).options(**ropts).load()
    parsed = qstream_parse(wire, qp=None, path="/tpch/region")
    got = {r["uuid"] for r in parsed.select("uuid").collect()}
    want = {r["uuid"] for r in src.select("uuid").collect()}
    assert want <= got


def test_streaming_exact_dedup(spark):
    import shutil

    from cm_well_spark.streaming.dedup import streaming_exact_dedup

    d = os.path.join(TMP, "sdedup")
    shutil.rmtree(d, ignore_errors=True)
    feed = os.path.join(d, "feed")
    os.makedirs(feed)
    rows = [
        (1, "the same document text", "2024-01-01 10:00:00"),
        (2, "THE SAME   document text!", "2024-01-01 10:00:30"),  # norm-dup of 1
        (3, "a different document", "2024-01-01 10:01:00"),
        (4, "the same document text", "2024-01-01 10:02:00"),  # dup again
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, ts_s string").select(
        "doc_id", "text", F.col("ts_s").cast("timestamp").alias("ts")
    )
    df.write.mode("append").parquet(feed)
    stream = spark.readStream.schema(df.schema).parquet(feed)
    out = streaming_exact_dedup(stream, watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("sdedup1")
        .option("checkpointLocation", os.path.join(d, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = {r["doc_id"] for r in spark.sql("SELECT doc_id FROM sdedup1").collect()}
    assert len(kept) == 2 and 3 in kept and len(kept & {1, 2, 4}) == 1


def test_streaming_seen_filter_first_k(spark):
    import shutil

    from cm_well_spark.streaming.dedup import streaming_seen_filter

    d = os.path.join(TMP, "sseen")
    shutil.rmtree(d, ignore_errors=True)
    feed = os.path.join(d, "feed")
    os.makedirs(feed)
    rows = [(i, "src%d" % (i % 2), float(i)) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, source string, v double")
    df.write.mode("append").parquet(feed)
    stream = spark.readStream.schema(df.schema).parquet(feed)
    out = streaming_seen_filter(stream, "source", limit=2)
    q = (
        out.writeStream.format("memory")
        .queryName("sseen1")
        .option("checkpointLocation", os.path.join(d, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT source, count(*) AS n FROM sseen1 GROUP BY source").collect()
    assert {r["source"]: r["n"] for r in got} == {"src0": 2, "src1": 2}


def test_streaming_pack_batch_parity_across_restarts(spark):
    """Spans from the streaming packer equal the batch packer's when docs
    arrive in id order — including across a query RESTART: the second
    run resumes the per-shard offset from the state store."""
    import shutil

    from cm_well_spark.operators.packing import pack_concat_windows
    from cm_well_spark.streaming.packing import streaming_pack

    d = os.path.join(TMP, "spack")
    shutil.rmtree(d, ignore_errors=True)
    feed = os.path.join(d, "feed")
    sink = os.path.join(d, "sink")
    os.makedirs(feed)
    rows = [(i, "w " * (5 + (i * 7) % 23)) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # first half, run, then second half, run again with the same
    # checkpoint — a FILE sink, because restart recovery is the point
    df.where("doc_id < 30").coalesce(1).write.mode("append").parquet(feed)

    def run():
        stream = spark.readStream.schema(df.schema).parquet(feed)
        q = (
            streaming_pack(stream, budget=16, n_shards=2)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", os.path.join(d, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    df.where("doc_id >= 30").coalesce(1).write.mode("append").parquet(feed)
    run()
    got = {
        (r["doc_id"], r["window"]): (r["win_tokens"], r["start_off"], r["shard"])
        for r in spark.read.parquet(sink).collect()
    }
    want = {
        (r["doc_id"], r["window"]): (r["win_tokens"], r["start_off"], r["shard"])
        for r in pack_concat_windows(df, budget=16, n_shards=2).collect()
    }
    assert got == want


def test_streaming_window_append_drops_late_events(spark):
    """Append mode + watermark: a window emits once when the watermark
    passes its end, and an event arriving LATER than the watermark
    horizon is dropped — the bounded-state contract."""
    import shutil

    from cm_well_spark.streaming.windows import streaming_window_counts

    d = os.path.join(TMP, "swin")
    shutil.rmtree(d, ignore_errors=True)
    feed = os.path.join(d, "feed")
    sink = os.path.join(d, "sink")
    os.makedirs(feed)
    schema = "event_id long, ts timestamp, event_type string, value double"

    def write(rows):
        spark.createDataFrame(
            [(i, F.lit(t).cast("timestamp"), et, v) for i, t, et, v in []] or rows, schema
        ).coalesce(1).write.mode("append").parquet(feed)

    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    write([(1, t0, "click", 1.0), (2, t0 + dt.timedelta(seconds=30), "click", 2.0)])

    def run():
        stream = spark.readStream.schema(schema).parquet(feed)
        q = (
            streaming_window_counts(stream, window="1 minute", watermark="5 minutes")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", os.path.join(d, "ck"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    # batch 2: an event 30 min later advances the watermark to 10:25
    write([(3, t0 + dt.timedelta(minutes=30), "view", 1.0)])
    run()
    # batch 3: a LATE event at 10:10 — behind the 10:25 watermark set by
    # batch 2, so the engine drops it; a fresh event closes window 10:30
    write([(4, t0 + dt.timedelta(minutes=10), "late", 9.0),
           (5, t0 + dt.timedelta(minutes=60), "view", 1.0)])
    run()
    got = {(r["window_start"], r["event_type"]): r["n"] for r in spark.read.parquet(sink).collect()}
    assert got[("2024-01-01 10:00:00", "click")] == 2  # first window emitted once
    assert ("2024-01-01 10:10:00", "late") not in got  # late event dropped
    assert got[("2024-01-01 10:30:00", "view")] == 1


def test_streaming_incremental_dedup_against_static_store(spark):
    """r7: a stream anti-joined against the static seen-signature table —
    rows whose normalized content exists in the store drop; fresh rows
    pass; parity with the batch incremental_dedup exact stage on the
    same data."""
    import shutil

    from cm_well_spark.operators.text import normalize_text
    from cm_well_spark.streaming.dedup import streaming_incremental_dedup

    d = os.path.join(TMP, "sincdedup")
    shutil.rmtree(d, ignore_errors=True)
    feed = os.path.join(d, "feed")
    os.makedirs(feed)

    seen_docs = spark.createDataFrame(
        [(100, "an already ingested document"), (101, "another stored one")],
        "doc_id long, text string",
    )
    seen_hashes = seen_docs.select(F.md5(normalize_text(F.col("text"))).alias("h"))

    rows = [
        (1, "An ALREADY ingested document!"),  # norm-dup of 100 -> drop
        (2, "a genuinely new document"),       # pass
        (3, "another stored one"),             # exact dup of 101 -> drop
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.write.mode("append").parquet(feed)
    stream = spark.readStream.schema(df.schema).parquet(feed)
    out = streaming_incremental_dedup(stream, seen_hashes)
    q = (
        out.writeStream.format("memory")
        .queryName("sinc1")
        .option("checkpointLocation", os.path.join(d, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = {r["doc_id"] for r in spark.sql("SELECT doc_id FROM sinc1").collect()}
    assert kept == {2}

    # batch twin agrees (exact stage of incremental_dedup)
    from cm_well_spark.operators.dedup import incremental_dedup_verdicts

    v = {
        r["doc_id"]: r["verdict"]
        for r in incremental_dedup_verdicts(df, seen_docs, threshold=0.99).collect()
    }
    assert v[1] == "exact_dup" and v[3] == "exact_dup" and v[2] == "new"


def test_streaming_sessions_match_batch_and_close_once(spark):
    """Streaming sessionization == batch session_window_agg on the same
    events, and an emitted (closed) session never re-emits after more
    batches arrive for other keys."""
    import datetime as dt
    import shutil

    from cm_well_spark.operators.aggregations import session_window_agg
    from cm_well_spark.streaming.windows import streaming_session_counts

    d = os.path.join(TMP, "ssess")
    shutil.rmtree(d, ignore_errors=True)
    feed = os.path.join(d, "feed")
    sink = os.path.join(d, "sink")
    os.makedirs(feed)
    schema = "event_id long, ts timestamp, user_id string, value double"
    t0 = dt.datetime(2024, 1, 1, 9, 0, 0)

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(feed)

    def run():
        stream = spark.readStream.schema(schema).parquet(feed)
        q = (
            streaming_session_counts(stream, gap="5 minutes", watermark="1 minute")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", os.path.join(d, "ck"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # u1: two events 2 min apart (one session); u2: one event
    write(
        [
            (1, t0, "u1", 1.0),
            (2, t0 + dt.timedelta(minutes=2), "u1", 2.0),
            (3, t0 + dt.timedelta(minutes=1), "u2", 5.0),
        ]
    )
    run()
    # much later events advance the watermark so the first sessions close
    write([(4, t0 + dt.timedelta(hours=2), "u3", 1.0)])
    run()
    write([(5, t0 + dt.timedelta(hours=4), "u3", 1.0)])
    run()

    got = spark.read.parquet(sink)
    keyed = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["sum_value"], r["session_end"])
        for r in got.collect()
    }
    # batch twin over the closed slice (events before the watermark)
    batch_events = spark.createDataFrame(
        [
            (1, t0, "u1", 1.0),
            (2, t0 + dt.timedelta(minutes=2), "u1", 2.0),
            (3, t0 + dt.timedelta(minutes=1), "u2", 5.0),
        ],
        schema,
    )
    twin = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["sum_value"], r["session_end"])
        for r in session_window_agg(batch_events, gap="5 minutes").collect()
    }
    for k, v in twin.items():
        assert keyed[k] == v, (k, v, keyed)
    # u1's session emitted exactly once despite two further batches
    assert sum(1 for (u, _s) in keyed if u == "u1") == 1


def test_streaming_trending_topk_parity_with_batch(spark):
    """r9: trending top-k — append-mode windowed counts ranked per
    micro-batch (closed windows emit whole, so per-batch ranking is the
    per-window ranking); parity with aggregations.trending_topk on the
    same data."""
    import datetime as dt

    from cm_well_spark.operators.aggregations import trending_topk
    from cm_well_spark.streaming.windows import (
        streaming_trending_counts,
        trending_topk_batch,
    )

    d = os.path.join(TMP, "trend")
    shutil.rmtree(d, ignore_errors=True)
    feed, sink = os.path.join(d, "feed"), os.path.join(d, "sink")
    os.makedirs(feed)
    schema = "event_id long, ts timestamp, event_type string, value double"
    t0 = dt.datetime(2024, 3, 1, 9, 0, 0)
    rows1 = [
        (i, t0 + dt.timedelta(minutes=i % 50), ["click", "view", "buy", "scroll"][i % 4], 1.0)
        for i in range(40)
    ]
    # hour 2 skews to 'view'; hour 3's lone event closes hour 2's window
    rows2 = [(100 + i, t0 + dt.timedelta(hours=1, minutes=i), "view", 1.0) for i in range(8)]
    rows2 += [(200, t0 + dt.timedelta(hours=2, minutes=30), "click", 1.0)]
    late_closer = [(300, t0 + dt.timedelta(hours=5), "click", 1.0)]

    def run():
        stream = spark.readStream.schema(schema).parquet(feed)
        q = (
            streaming_trending_counts(stream, window="1 hour", watermark="5 minutes")
            .writeStream.foreachBatch(
                lambda b, _id: trending_topk_batch(b, k=2)
                .write.mode("append")
                .parquet(sink)
            )
            .option("checkpointLocation", os.path.join(d, "ck"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(feed)

    write(rows1)
    run()
    write(rows2)
    run()
    write(late_closer)  # advances the watermark so hours 2-3 emit
    run()

    got = {
        (r["window_start"], r["rank"]): (r["event_type"], r["n_events"])
        for r in spark.read.parquet(sink).collect()
    }
    batch_df = spark.createDataFrame(rows1 + rows2 + late_closer, schema)
    want = {
        (r["window_start"], r["rank"]): (r["event_type"], r["n_events"])
        for r in trending_topk(batch_df, k=2).collect()
        if r["window_start"] < "2024-03-01 14:00"  # the closer's own window never emits
    }
    assert got == want
    # hour 09: buy/click tie at 10 (asc tie-break) -> 2 rows; hours 10 and 11
    # have one key each -> 1 row apiece; the closer's own window never emits
    assert len(got) == 4


def test_streaming_ohlc_parity_with_batch_and_close_once(spark):
    """r9: OHLC candles — streaming twin emits each closed bucket once
    with the SAME open/high/low/close as temporal.ohlc_downsample on
    the same events (composite-key ties included)."""
    import datetime as dt
    import shutil

    from cm_well_spark.operators.temporal import ohlc_downsample
    from cm_well_spark.streaming.windows import streaming_ohlc

    d = os.path.join(TMP, "sohlc")
    shutil.rmtree(d, ignore_errors=True)
    feed = os.path.join(d, "feed")
    sink = os.path.join(d, "sink")
    os.makedirs(feed)
    schema = "event_id long, ts timestamp, event_type string, value double"
    t0 = dt.datetime(2024, 1, 1, 9, 0, 0)

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(feed)

    def run():
        stream = spark.readStream.schema(schema).parquet(feed)
        q = (
            streaming_ohlc(stream, window="1 hour", watermark="1 minute")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", os.path.join(d, "ck"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    first_hour = [
        (2, t0, "m", 99.0),           # same-instant tie:
        (1, t0, "m", 10.0),           #   open must be id 1's value
        (3, t0 + dt.timedelta(minutes=30), "m", 1.0),
        (4, t0 + dt.timedelta(minutes=50), "m", 50.0),
    ]
    write(first_hour)
    run()
    # a much later event closes the first bucket
    write([(5, t0 + dt.timedelta(hours=3), "m", 7.0)])
    run()
    write([(6, t0 + dt.timedelta(hours=5), "m", 7.0)])
    run()

    got = {r["bucket"]: r for r in spark.read.parquet(sink).collect()}
    b1 = got["2024-01-01 09:00"]
    assert (b1["open"], b1["high"], b1["low"], b1["close"], b1["n"]) == (10.0, 99.0, 1.0, 50.0, 4)
    # parity with the batch operator on the same closed slice
    batch = spark.createDataFrame(first_hour, schema)
    twin = {r["bucket"]: r for r in ohlc_downsample(batch, window="1 hour").collect()}
    t1 = twin["2024-01-01 09:00"]
    assert (b1["open"], b1["high"], b1["low"], b1["close"], b1["n"]) == (
        t1["open"], t1["high"], t1["low"], t1["close"], t1["n"]
    )
    # closed bucket emitted exactly once across the later batches
    assert sum(1 for b in got if b == "2024-01-01 09:00") == 1


def test_priority_queue_overtakes_bulk(spark, infotons):
    """blp-700 priority semantics, broker-less (VERDICT r9 item 5): wire
    fixtures for the two persist topics replayed through the REAL
    parse path, then priority_drain — EVERY priority command orders
    before ANY earlier-queued bulk command (FIFO within each class),
    and priority rows get last_modified amended to processing time
    (blp-700 §Implementation; ImpStream.scala:87-101)."""
    from cm_well_spark.operators.admin import (
        BULK_TOPIC,
        PRIORITY_TOPIC,
        priority_drain,
        qstream_parse,
        qstream_topic_for,
        to_kafka_wire,
    )

    assert qstream_topic_for(False) == BULK_TOPIC == "persist_topic"
    assert qstream_topic_for(True) == PRIORITY_TOPIC == "persist_topic.priority"

    # four queued commands, interleaved arrival: bulk(n0), prio(n1),
    # bulk(n2), prio(n3) — wire offset is the arrival order
    src = infotons.where(F.col("path").rlike("^/tpch/nation/[0-3]$"))
    wire = (
        to_kafka_wire(src)
        .withColumn("__key", F.regexp_extract(F.col("key").cast("string"), r"(\d+)$", 1).cast("int"))
        .withColumn("offset", F.col("__key").cast("long"))
        .withColumn(
            "topic",
            F.when(F.col("__key") % 2 == 1, F.lit(PRIORITY_TOPIC)).otherwise(F.lit(BULK_TOPIC)),
        )
        .withColumn("partition", F.lit(0))
        .withColumn("timestamp", F.current_timestamp())
        .withColumn("timestampType", F.lit(0))
    )
    parsed = qstream_parse(wire.drop("__key")).withColumn(
        "offset", F.regexp_extract("path", r"(\d+)$", 1).cast("long")
    ).withColumn("priority", F.col("offset") % 2 == 1)

    now_ms = 1_800_000_000_000
    drained = priority_drain(parsed, now_ms=now_ms).orderBy("proc_seq")
    rows = drained.select("path", "proc_seq", "priority", "last_modified").collect()
    order = [r["path"] for r in rows]
    # priority (n1, n3) overtake the ENTIRE bulk backlog (n0, n2)
    assert order == [
        "/tpch/nation/1",
        "/tpch/nation/3",
        "/tpch/nation/0",
        "/tpch/nation/2",
    ]
    assert [r["proc_seq"] for r in rows] == [1, 2, 3, 4]
    # priority rows: last_modified amended to processing time; bulk keep theirs
    import datetime

    amended = datetime.datetime.fromtimestamp(now_ms / 1000)
    for r in rows:
        if r["priority"]:
            assert r["last_modified"] == amended, r["path"]
        else:
            assert r["last_modified"] != amended, r["path"]


# ---- subscription sessions: pull / push / unsubscribe (VERDICT r10 #7) ----


def test_subscription_pull_session_end_to_end(spark, infotons):
    """subscribe -> events -> pull drains exactly the rule-matched set ->
    second pull is the empty keepalive -> more events -> re-arm delivers
    only the NEW wave (checkpointed resume) -> unsubscribe stops
    delivery and forgets the session."""
    from cm_well_spark.streaming.subscribe import SubscriptionManager, ingest_stream, pull_infotons

    feed_dir = os.path.join(TMP, "sess_feed")
    os.makedirs(feed_dir, exist_ok=True)
    regions = infotons.where(F.col("path").startswith("/tpch/region"))
    nations = infotons.where(F.col("path").startswith("/tpch/nation"))
    regions.write.mode("append").parquet(feed_dir)

    mgr = SubscriptionManager(spark)
    key = mgr.subscribe(ingest_stream(spark, feed_dir), "", "/tpch/region", fmt="json")
    mgr.process_available(key)
    got = mgr.pull(key)
    want = {r["uuid"] for r in regions.collect()}
    assert set(got["data"]) == want and got["format"] == "json" and not got["overflow"]
    assert pull_infotons(infotons, got["data"]).count() == len(want)
    assert mgr.pull(key) == {"overflow": False, "data": [], "format": "json"}

    # wave 2: nations are OUTSIDE the rule, a second region wave matches
    nations.write.mode("append").parquet(feed_dir)
    regions.withColumn("uuid", F.concat(F.lit("w2-"), F.col("uuid"))).write.mode(
        "append"
    ).parquet(feed_dir)
    mgr.process_available(key)
    got2 = mgr.pull(key)
    assert set(got2["data"]) == {f"w2-{u}" for u in want}  # no wave-1 redelivery

    assert mgr.unsubscribe(key) == f"unsubscribe {key}"
    with pytest.raises(KeyError, match="missing sub param."):
        mgr.pull(key)
    with pytest.raises(KeyError, match="missing sub param."):
        mgr.process_available(key)


def test_subscription_push_and_method_guards(spark, infotons):
    from cm_well_spark.streaming.subscribe import SubscriptionManager, ingest_stream

    feed_dir = os.path.join(TMP, "push_feed")
    os.makedirs(feed_dir, exist_ok=True)
    infotons.where(F.col("path").startswith("/tpch/region")).write.mode("append").parquet(feed_dir)

    mgr = SubscriptionManager(spark)
    batches = []
    key = mgr.subscribe(
        ingest_stream(spark, feed_dir), "", "/tpch/region", method="push", callback=batches.append
    )
    mgr.process_available(key)
    assert sorted(u for b in batches for u in b) == sorted(
        r["uuid"] for r in infotons.where(F.col("path").startswith("/tpch/region")).collect()
    )
    with pytest.raises(ValueError, match="pull is only valid"):
        mgr.pull(key)
    with pytest.raises(ValueError, match="missing callback for method push"):
        mgr.subscribe(ingest_stream(spark, feed_dir), "", "/", method="push")
    with pytest.raises(ValueError, match="unsupported or missing method"):
        mgr.subscribe(ingest_stream(spark, feed_dir), "", "/", method="sms")


def test_pull_queue_overflow_and_throttle():
    """SubscriberPullActor semantics (Subscriber.scala:117-164): bounded
    buffer drops the OLDEST on overflow and flags it; the 1-second rate
    sensor drops events past the limit; drain empties but keeps the
    flag of the last append."""
    from cm_well_spark.streaming.subscribe import _PullQueue

    t = [0.0]
    q = _PullQueue("json", bulk_size=3, rate_limit=100, clock=lambda: t[0])
    for i in range(3):
        q.publish(f"u{i}")
    assert not q.overflow
    q.publish("u3")  # drops u0
    assert q.overflow
    got = q.drain()
    assert got == {"overflow": True, "data": ["u1", "u2", "u3"], "format": "json"}
    q.publish("u4")
    assert q.drain()["overflow"] is False

    q2 = _PullQueue("json", bulk_size=1000, rate_limit=5, clock=lambda: t[0])
    for i in range(10):
        q2.publish(f"a{i}")
    assert len(q2.data) == 5  # throttled within the same second
    t[0] = 1.5  # window rolls
    q2.publish("late")
    assert q2.data[-1] == "late" and len(q2.data) == 6
