"""Administrative / auxiliary surface: overwrite, purge, KV store,
virtual infotons, qstream, tracking, audit (S7/S8/S10/S11/S12, W6/W7).
"""

from __future__ import annotations

import uuid as _uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from cm_well_spark.operators.merge import fold_versions
from cm_well_spark.plans.iterative import iter_checkpoint, iter_checkpoint_lazy
from cm_well_spark.plans.keyset import restrict


# ---------------------------------------------------------------------------
# S7: _ow overwrite (DC-sync writes: complete versions, no merge)
# ---------------------------------------------------------------------------


def overwrite(infotons: DataFrame, version_rows: DataFrame) -> DataFrame:
    """`_ow`: append complete externally-authored versions (explicit uuid +
    index_time, histories included), NO merge — the inter-DC sync write
    path (InputHandler.scala:131; CRUDServiceFS.putOverwrites:301). The
    only computed bit is the current-flag flip per affected path."""
    return fold_versions(infotons, version_rows, version_rows.select("path").distinct())


# ---------------------------------------------------------------------------
# S8: delete / purge APIs
# ---------------------------------------------------------------------------


def purge_path(infotons: DataFrame, path: str) -> DataFrame:
    """purge-all: physically remove every version of a path
    (Application.scala:2842-2848). Contrast with DELETE -> tombstone via
    the merge writer (delete_path command)."""
    return infotons.where(F.col("path") != path)


def purge_history(infotons: DataFrame, path: str) -> DataFrame:
    """purge-history: keep only the current version of a path."""
    return infotons.where((F.col("path") != path) | F.col("current"))


def delete_recursive_commands(spark: SparkSession, infotons: DataFrame, path: str, seq_start: int = 1) -> DataFrame:
    """recursive delete = a delete_path command per descendant, fed to the
    merge writer (tombstones, history retained)."""
    from cm_well_spark.operators.merge import COMMAND_SCHEMA
    from cm_well_spark.operators.search import PathFilter, path_filter_col

    targets = (
        infotons.where(F.col("current"))
        .where(path_filter_col(PathFilter(path, descendants=True)) | (F.col("path") == path))
        .select(F.col("path").alias("__target"))
        .distinct()
        # commands will be joined back against the same table inside the
        # merge writer — cut the shared lineage (fresh attribute ids via
        # the alias + checkpoint) so Catalyst doesn't see an ambiguous
        # self-join; the target list is small (one subtree)
        .transform(iter_checkpoint_lazy)
    )
    return targets.select(
        F.col("__target").alias("path"),
        F.lit(seq_start).cast("long").alias("seq"),
        F.lit("delete_path").alias("op"),
        F.lit(None).cast(COMMAND_SCHEMA["fields"].dataType).alias("fields"),
        F.lit(None).cast(COMMAND_SCHEMA["delete_fields"].dataType).alias("delete_fields"),
        F.current_timestamp().alias("last_modified"),
        F.lit("https").alias("protocol"),
    )


# ---------------------------------------------------------------------------
# S10: zz KV store
# ---------------------------------------------------------------------------


class ZzStore:
    """Opaque KV blob store (`zz` API / zstore, ZStore.scala) as a small
    parquet table. At scale this is an object store; the API is the
    contract."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _read(self) -> DataFrame:
        from cm_well_spark.model.atomic import read_versioned

        df = read_versioned(self.spark, self.path, "kv")
        if df is None:
            return self.spark.createDataFrame([], "key string, value binary, ts timestamp")
        return df

    def put(self, key: str, value: bytes) -> None:
        # atomic version-swap write (ADVICE r1: the two-step overwrite
        # lost the whole KV table on a crash between the writes)
        from cm_well_spark.model.atomic import write_versioned

        cur = self._read().where(F.col("key") != key)
        new = self.spark.createDataFrame([(key, bytearray(value))], "key string, value binary").withColumn(
            "ts", F.current_timestamp()
        )
        write_versioned(self.path, {"kv": cur.unionByName(new)})

    def get(self, key: str) -> bytes | None:
        row = self._read().where(F.col("key") == key).first()
        return bytes(row["value"]) if row else None

    def list_keys(self) -> list[str]:
        return [r["key"] for r in self._read().select("key").orderBy("key").collect()]


# ---------------------------------------------------------------------------
# S11: virtual /proc infotons
# ---------------------------------------------------------------------------


def proc_infotons(infotons: DataFrame) -> DataFrame:
    """Computed system/monitoring tables served as infotons
    (ActiveInfotonGenerator): per-kind row counts + index_time horizon as
    virtual rows under /proc (never persisted)."""
    stats = (
        infotons.groupBy("kind")
        .agg(
            F.count("*").alias("versions"),
            F.sum(F.when(F.col("current"), 1).otherwise(0)).alias("current_rows"),
            F.max("index_time").alias("max_index_time"),
        )
        .withColumn("path", F.concat(F.lit("/proc/kind/"), F.col("kind")))
    )
    return stats.select(
        "path",
        F.lit("VirtualInfoton").alias("kind_v"),
        "kind",
        "versions",
        "current_rows",
        "max_index_time",
    ).withColumnRenamed("kind_v", "virtual_kind")


# ---------------------------------------------------------------------------
# S12: op=qstream — raw persist-queue passthrough
# ---------------------------------------------------------------------------


# The spark-sql-kafka source's fixed wire schema (Structured Streaming
# Kafka integration guide) — what qstream() sees before parsing. Pinned
# here so the broker-less contract test replays fixtures in exactly the
# shape the broker would deliver.
KAFKA_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("timestampType", T.IntegerType()),
    ]
)


# blp-700 priority queue: two persist topics — writes carrying the
# `priority` query parameter land on the priority topic; bg drains it
# FIRST and falls back to the bulk topic only when it is empty
# (blps/blp-700-priority-queue.md; ImpStream.scala:87-101).
BULK_TOPIC = "persist_topic"
PRIORITY_TOPIC = "persist_topic.priority"


def qstream_topic_for(priority: bool) -> str:
    """Produce-side topic routing (blp-700 §Implementation): the WS
    'normally writes to the existing topic, unless the priority query
    parameter is present'."""
    return PRIORITY_TOPIC if priority else BULK_TOPIC


def priority_drain(
    commands: DataFrame,
    now_ms: int | None = None,
    priority_col: str = "priority",
    offset_col: str = "offset",
) -> DataFrame:
    """blp-700 drain semantics without a broker: 'bg will process first
    all messages from the priority topic, and only if empty will proceed
    with regular topic' — in micro-batch terms a TOTAL processing order
    over the unioned two-topic feed. Adds `proc_seq`: EVERY
    priority-marked command orders before ANY bulk command, FIFO
    (wire offset) within each class — priority writes overtake the
    whole queued bulk backlog, exactly the reference's ticket-to-pass
    semantics. Priority rows also get `last_modified` amended to the
    processing time ('bg will amend the lastModified of the Infoton to
    be the current system time, in order to avoid conflicts in
    Cassandra' — here: so the later-written merge version wins the
    same-timestamp tiebreak deterministically); bulk rows keep theirs.

    The unpartitioned row_number is deliberate: a drain order is by
    definition a total order over ONE micro-batch, and command batches
    are batch-sized by contract (W2) — never store-sized."""
    import time as _time

    now = now_ms if now_ms is not None else int(_time.time() * 1000)
    is_prio = F.coalesce(F.col(priority_col).cast("boolean"), F.lit(False))
    w = Window.orderBy(
        F.when(is_prio, F.lit(0)).otherwise(F.lit(1)), F.col(offset_col).asc()
    )
    out = commands.withColumn("proc_seq", F.row_number().over(w).cast("long"))
    if "last_modified" in commands.columns:
        out = out.withColumn(
            "last_modified",
            F.when(is_prio, F.timestamp_millis(F.lit(now))).otherwise(
                F.col("last_modified")
            ),
        )
    return out


def qstream_reader_options(
    bootstrap_servers: str, topic: str, starting_offsets: str = "earliest"
) -> tuple[str, dict[str, str]]:
    """The resolved (format, options) a qstream Kafka reader uses —
    factored out so the contract is asserted in tests without a broker."""
    return "kafka", {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        # at-least-once like the reference's consumer: never silently drop
        # a pruned-offset range on resume
        "failOnDataLoss": "true",
    }


def _qstream_filter(feed: DataFrame, qp: str | None, path: str | None, descendants: bool) -> DataFrame:
    """The one filter surface both transports share: same qp grammar and
    path semantics as search(); a deployment swaps the source format and
    nothing else."""
    from cm_well_spark.operators.search import PathFilter, path_filter_col, visibility_filter
    from cm_well_spark.parsers.qp import parse_qp
    from cm_well_spark.plans.compile import compile_filter

    feed = feed.where(visibility_filter())
    if path:
        feed = feed.where(path_filter_col(PathFilter(path, descendants)))
    if qp:
        feed = feed.where(compile_filter(parse_qp(qp)))
    return feed


def qstream_parse(
    wire: DataFrame,
    qp: str | None = None,
    path: str | None = None,
    descendants: bool = True,
) -> DataFrame:
    """Kafka wire rows -> filtered infoton rows: the persist-topic payload
    (`value`) is a JSON-serialized infoton (CRUDServiceFS.consumeKafka:474
    deserializes the command envelope the same way). Works on the
    streaming source and on batch fixture replays alike — the contract
    test feeds KAFKA_WIRE_SCHEMA fixtures through this exact path."""
    from cm_well_spark.model.schema import INFOTON_SCHEMA

    rows = wire.select(
        F.from_json(F.col("value").cast("string"), INFOTON_SCHEMA).alias("i")
    ).select("i.*")
    return _qstream_filter(rows, qp, path, descendants)


def qstream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    qp: str | None = None,
    path: str | None = None,
    descendants: bool = True,
) -> DataFrame:
    """S12 op=qstream over Kafka (CRUDServiceFS.consumeKafka:474): wire
    reader + payload parse + shared filter. Requires the spark-sql-kafka
    package at runtime (not present in this environment — the reader
    options and the parse/filter stages are contract-tested broker-less;
    qstream_dir is the same surface over a file transport)."""
    fmt, opts = qstream_reader_options(bootstrap_servers, topic, starting_offsets)
    wire = spark.readStream.format(fmt).options(**opts).load()
    return qstream_parse(wire, qp=qp, path=path, descendants=descendants)


def qstream_writer_options(bootstrap_servers: str, topic: str) -> tuple[str, dict[str, str]]:
    """The produce-side twin of qstream_reader_options: the resolved
    (format, options) for publishing the command/index feed to Kafka
    (W1 — the reference's persist_topic producer, CRUDServiceFS)."""
    return "kafka", {
        "kafka.bootstrap.servers": bootstrap_servers,
        "topic": topic,
    }


def to_kafka_wire(rows: DataFrame, key_col: str = "path") -> DataFrame:
    """Serialize feed rows into the two columns the Kafka sink contract
    requires: key = the partition key (path, so one infoton's versions
    stay ordered within a partition — the reference partitions the
    persist topic the same way), value = the JSON payload qstream_parse
    deserializes. Round-trip parity with qstream_parse is pinned by
    test, so the produce and consume sides share one wire format."""
    return rows.select(
        F.col(key_col).cast("string").cast("binary").alias("key"),
        F.to_json(F.struct(*rows.columns)).cast("binary").alias("value"),
    )


def qstream_dir(
    spark: SparkSession,
    feed_dir: str,
    qp: str | None = None,
    path: str | None = None,
    descendants: bool = True,
) -> DataFrame:
    """S12 op=qstream without a broker: the continuously-filtered ingest
    feed (`_qstream` streams matching infotons as they index —
    Application.scala:1236) as file-source Structured Streaming over the
    lakehouse append dir."""
    from cm_well_spark.streaming.subscribe import ingest_stream

    return _qstream_filter(ingest_stream(spark, feed_dir), qp, path, descendants)


# ---------------------------------------------------------------------------
# W6: write tracking
# ---------------------------------------------------------------------------


def assign_tracking_ids(commands: DataFrame) -> tuple[str, DataFrame]:
    """`_track`: one tracking id per write batch; per-path status derives
    from the table afterwards (tracking actor -> plain columns)."""
    tid = _uuid.uuid4().hex[:16]
    return tid, commands.withColumn("tracking_id", F.lit(tid))


def tracking_status(infotons: DataFrame, commands: DataFrame) -> DataFrame:
    """Status per tracked path: Done when a version at/after the command's
    seq exists (eventual-consistency poll made trivial by the single
    table)."""
    latest = infotons.where(F.col("current")).select("path", "index_time")
    return (
        commands.select("path", "tracking_id")
        .distinct()
        .join(latest, "path", "left")
        .select(
            "tracking_id",
            "path",
            F.when(F.col("index_time").isNotNull(), F.lit("Done")).otherwise(F.lit("InProgress")).alias("status"),
        )
    )


# ---------------------------------------------------------------------------
# W7: data-quality audit (replaces the consistency crawler)
# ---------------------------------------------------------------------------


def audit(infotons: DataFrame) -> DataFrame:
    """Single-source-of-truth invariant checks (the reference needs a
    crawler to reconcile C* vs ES — CrawlerStream.scala; we only need to
    assert table invariants): returns (check, violations) rows."""
    by_path = infotons.groupBy("path").agg(
        F.sum(F.when(F.col("current"), 1).otherwise(0)).alias("n_current"),
        F.count("*").alias("n_versions"),
    )
    checks = [
        ("exactly_one_current_per_path", by_path.where(F.col("n_current") != 1).count()),
        ("uuid_present", infotons.where(F.col("uuid").isNull() | (F.col("uuid") == "")).count()),
        ("path_parent_consistent", infotons.where(
            ~F.col("path").startswith(F.col("parent")) & (F.col("parent") != "/")
        ).count()),
        ("index_time_present", infotons.where(F.col("index_time").isNull()).count()),
        (
            "tombstones_have_no_fields",
            infotons.where((F.col("kind") == "DeletedInfoton") & (F.size(F.map_keys("fields")) > 0)).count(),
        ),
    ]
    spark = infotons.sparkSession
    return spark.createDataFrame(checks, "check string, violations long")


def replace_graph(infotons: DataFrame, graph: str, index_time_bump: int = 1000) -> DataFrame:
    """Graph-wide retraction — the reference's
    `<> <cmwell://meta/sys#replaceGraph> <g>` write directive
    (QuadTests.scala:143,298; InputHandler replaceGraph handling):
    retract EVERY value tagged with named graph `g` across the whole
    store, as new versions of only the affected paths (history retained,
    current flips).

    Scale shape: affected paths are found with a map-exists predicate on
    the fields map (no explode, rides the scan); stripping is a columnar
    transform_values + filter; untouched rows pass through bit-identical.
    One shuffle-free pass plus the union."""
    has_g = F.exists(
        F.map_values(F.col("fields")),
        lambda arr: F.coalesce(F.exists(arr, lambda v: v["quad"] == graph), F.lit(False)),
    )
    hit = F.col("current") & F.coalesce(has_g, F.lit(False))
    stripped = (
        infotons.where(hit)
        .withColumn(
            "fields",
            F.map_filter(
                F.transform_values(
                    F.col("fields"),
                    lambda k, arr: F.filter(arr, lambda v: v["quad"].isNull() | (v["quad"] != graph)),
                ),
                lambda k, v: F.size(v) > 0,
            ),
        )
        .withColumn("index_time", F.col("index_time") + index_time_bump)
        .withColumn("last_modified", F.current_timestamp())
        # deterministic new version id from (path, predecessor, graph)
        .withColumn("uuid", F.md5(F.concat_ws("\n", F.col("path"), F.col("uuid"), F.lit(graph))))
    )
    demoted = infotons.withColumn(
        "current", F.when(hit, F.lit(False)).otherwise(F.col("current"))
    )
    return demoted.unionByName(stripped)


# ---------------------------------------------------------------------------
# op=info: physical location report per path
# ---------------------------------------------------------------------------


def info_path(spark: SparkSession, sf_dir: str, paths: list[str], root: str | None = None) -> DataFrame:
    """`op=info` analog (Application.scala:2805 handleInfo; CRUDServiceFS
    .info): for each requested path, report WHERE each of its versions
    physically lives. The reference prints one line per Cassandra row
    (`cas <uuid> ...`) and per ES index entry (`es <uuid> [index] ...`);
    the lakehouse's answer is one row per layer location:

      layer='store'  — the doc table (C* analog): partition directory,
                       physical parquet file, uuid, index_time, current
      layer='index'  — the EAV triples table (ES analog): one row per
                       predicate partition holding the path (the file
                       set ES would report as the index), uuid null
                       (triples are keyed by subject, not version id)
      layer='delta'  — pending merge-on-read write batches
                       (infotons_delta/batch=N), when present

    This is a PHYSICAL report, like the reference's raw C*/ES row dump:
    each layer is read from its own parquet directly, never through the
    reconciled merge-on-read view (whose union of sources both breaks
    input_file_name() and would hide where bytes actually live) — so
    with pending deltas, a path's base `current` flag may be stale and
    its fresh version shows under layer='delta'; the read path's
    reconciliation, not this report, resolves them.

    Scale shape: per-layer point filters (path-sorted parquet min/max
    prunes the store scan; the triples side prunes to the subject's rows
    inside each predicate partition), one cheap distinct on the index
    side, a union — no shuffle beyond the distinct, nothing collected.
    `file` is the physical parquet basename via input_file_name();
    `location` is the stable partition-relative directory (the
    engine-replayable half of the report)."""
    import os

    from cm_well_spark.model.lakehouse import materialize

    out = materialize(spark, sf_dir, root)
    fname = F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1)

    store = (
        restrict(spark.read.parquet(os.path.join(out, "infotons")), "path", paths)
        .select(
            "path",
            F.lit("store").alias("layer"),
            F.concat(F.lit("infotons/kind="), F.col("kind")).alias("location"),
            fname.alias("file"),
            "uuid",
            "index_time",
            "current",
        )
    )
    index = (
        restrict(spark.read.parquet(os.path.join(out, "triples")), "s", paths)
        .select(
            F.col("s").alias("path"),
            F.lit("index").alias("layer"),
            F.concat(F.lit("triples/p="), F.col("p")).alias("location"),
            fname.alias("file"),
            F.lit(None).cast("string").alias("uuid"),
            "index_time",
            "current",
        )
        .distinct()
    )
    result = store.unionByName(index)

    delta_dir = os.path.join(out, "infotons_delta")
    if os.path.isdir(delta_dir) and any(b.startswith("batch=") for b in os.listdir(delta_dir)):
        delta = (
            restrict(spark.read.parquet(delta_dir), "path", paths)
            .select(
                "path",
                F.lit("delta").alias("layer"),
                F.concat(F.lit("infotons_delta/batch="), F.col("batch")).alias("location"),
                fname.alias("file"),
                "uuid",
                "index_time",
                "current",
            )
        )
        result = result.unionByName(delta)
    return result
