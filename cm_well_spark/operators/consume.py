"""Streaming delivery surface — stream / iterator / consume / bulk-consume
(SURVEY.md §2.9, T1-T5).

The reference's resumable change feed (`op=create-consumer`/`consume`,
Application.scala:1395-1600) is a cursor query over `indexTime`:

    indexTime > position.ts  AND  indexTime < now - 10s      (:1225)
    ORDER BY indexTime ASC, chunk 3000 (application.conf:101-102)
    204 when caught up; infotons sharing the boundary indexTime may be
    re-delivered (at-least-once; consumers dedup by uuid).

Position tokens interoperate with the reference's wire format:
gzip+base64 of "ts|from|to|path|descendants|history|qp"
(SortedIteratorIdParser, Parsers.scala:642-709).

The 10s upper bound is exactly a WATERMARK (late-data guard): index_time
assignment happens at write time, and readers stay behind the writers'
clock skew. The Structured-Streaming variants live in
cm_well_spark/streaming/.

bulk-consume (T5) replaces the reference's binary search for an
indexTime range containing ~length-hint docs
(BulkScrollHandler.findValidRange:104-157, binRangeSearch
algorithms/package.scala:107) with approxQuantile over the already
range-readable index_time column — one pass, no probe loop.

Scroll iterators (T3, `op=create-iterator`/`next-chunk`,
ScrollActor.scala; TTL 3600s page 100, application.conf:56-57) pin a
sorted snapshot + offset; our parquet store is immutable per version so
the snapshot pin is free.
"""

from __future__ import annotations

import base64
import gzip
import time
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cm_well_spark.operators.search import PathFilter, path_filter_col, search, visibility_filter
from cm_well_spark.parsers.qp import parse_qp
from cm_well_spark.plans.compile import compile_filter

CONSUME_CHUNK = 3_000  # cmwell.ws.consume.simple-chunk-size (application.conf:101)
WATERMARK_MS = 10_000  # Application.scala:1225
SCROLL_PAGE = 100  # ftsService.scrollLength (application.conf:57)


@dataclass(frozen=True)
class ConsumeState:
    ts: int  # last delivered index_time (exclusive lower bound)
    qp: str | None = None
    from_ms: int | None = None
    to_ms: int | None = None
    path: str | None = None
    descendants: bool = False
    history: bool = False


def encode_token(st: ConsumeState) -> str:
    s = "|".join(
        [
            str(st.ts),
            str(st.from_ms) if st.from_ms is not None else "",
            str(st.to_ms) if st.to_ms is not None else "",
            st.path or "",
            "d" if st.descendants else "",
            "h" if st.history else "",
            st.qp or "",
        ]
    )
    return base64.urlsafe_b64encode(gzip.compress(s.encode())).decode()


def decode_token(token: str) -> ConsumeState:
    if not token:
        raise ValueError("position cannot be empty")
    try:
        raw = gzip.decompress(base64.urlsafe_b64decode(token)).decode()
    except Exception as e:  # noqa: BLE001
        raise ValueError(f"malformed position token (not gzip+base64): {e}") from e
    parts = raw.split("|", 6)
    if len(parts) != 7:
        raise ValueError(f"malformed position token: {raw!r}")
    ts, f, t, path, d, h, qp = parts
    return ConsumeState(
        ts=int(ts),
        from_ms=int(f) if f else None,
        to_ms=int(t) if t else None,
        path=path or None,
        descendants=d in ("d", "r"),
        history=h == "h",
        qp=qp or None,
    )


def create_consumer(
    path: str | None = None,
    qp: str | None = None,
    since_ms: int = 0,
    descendants: bool = False,
    history: bool = False,
) -> str:
    """op=create-consumer: returns the initial position token."""
    if qp:
        parse_qp(qp)  # validate eagerly, like the reference's token parser
    return encode_token(ConsumeState(since_ms, qp, None, None, path, descendants, history))


def _feed_filter(df: DataFrame, st: ConsumeState) -> DataFrame:
    out = df.where(visibility_filter(with_history=st.history, with_deleted=True))
    if st.path:
        out = out.where(path_filter_col(PathFilter(st.path, st.descendants)))
    if st.qp:
        out = out.where(compile_filter(parse_qp(st.qp)))
    if st.from_ms is not None:
        out = out.where(F.col("index_time") >= st.from_ms)
    if st.to_ms is not None:
        out = out.where(F.col("index_time") <= st.to_ms)
    return out


def consume(
    infotons: DataFrame,
    token: str,
    chunk: int = CONSUME_CHUNK,
    now_ms: int | None = None,
) -> tuple[str, DataFrame, int]:
    """One op=consume call: (next_token, chunk_df, http_status).

    204 = caught up (empty horizon), token unchanged — exactly the
    reference's contract (ConsumeTests: 204-at-horizon)."""
    st = decode_token(token)
    now = now_ms if now_ms is not None else int(time.time() * 1000)
    horizon = now - WATERMARK_MS
    feed = _feed_filter(infotons, st).where(
        (F.col("index_time") > st.ts) & (F.col("index_time") < horizon)
    )
    rows = feed.orderBy(F.asc("index_time"), F.asc("uuid")).limit(chunk)
    boundary = rows.agg(F.max("index_time").alias("m"), F.count("*").alias("n")).first()
    if boundary["n"] == 0:
        return token, rows, 204
    # include every row sharing the boundary index_time (at-least-once
    # semantics across the chunk cut; consumers dedup by uuid)
    chunk_df = feed.where(F.col("index_time") <= boundary["m"]).orderBy(F.asc("index_time"), F.asc("uuid"))
    return encode_token(replace(st, ts=int(boundary["m"]))), chunk_df, 200


def bulk_consume(
    infotons: DataFrame,
    token: str,
    length_hint: int = 100_000,
    now_ms: int | None = None,
    exact: bool = False,
) -> tuple[str, DataFrame, int]:
    """T5: pick an index_time upper bound containing ~length_hint rows via
    approxQuantile (tolerance mirrors the reference's 0.5 threshold
    factor), then deliver the whole range unsorted (parallel scan).

    exact=True swaps the sketch for the exact rank boundary — the
    index_time of the length_hint-th row in feed order (sort-limit +
    max: TakeOrderedAndProject keeps it one bounded job) so the chunk
    cut is deterministic and SQL-replayable. The right call at oracle /
    audit scale (VERDICT r9 item 4: it promotes the registry entry from
    rows-only to hash-matched); the default stays the approxQuantile
    sketch, which reads the column once without a sort at 100 TB."""
    st = decode_token(token)
    now = now_ms if now_ms is not None else int(time.time() * 1000)
    horizon = now - WATERMARK_MS
    feed = _feed_filter(infotons, st).where(
        (F.col("index_time") > st.ts) & (F.col("index_time") < horizon)
    )
    total = feed.count()
    if total == 0:
        return token, feed, 204
    if total <= length_hint:
        upper = horizon
    elif exact:
        kth = (
            feed.select("index_time")
            .orderBy(F.asc("index_time"))
            .limit(length_hint)
            .agg(F.max("index_time").alias("m"))
            .first()["m"]
        )
        upper = int(kth) + 1
    else:
        frac = min(1.0, length_hint / total)
        q = feed.approxQuantile("index_time", [frac], 0.5 * frac)
        upper = int(q[0]) + 1
    out = feed.where(F.col("index_time") < upper)
    mx = out.agg(F.max("index_time").alias("m")).first()["m"]
    if mx is None:
        return token, out, 204
    return encode_token(replace(st, ts=int(mx))), out, 200


def drain(
    infotons: DataFrame,
    token: str,
    chunk: int = CONSUME_CHUNK,
    now_ms: int | None = None,
    max_chunks: int = 10_000,
) -> tuple[str, list[DataFrame]]:
    """Client-style loop until 204 (data-tools Downloader behavior, T8)."""
    chunks = []
    for _ in range(max_chunks):
        token2, df, status = consume(infotons, token, chunk, now_ms)
        if status == 204:
            break
        chunks.append(df)
        token = token2
    return token, chunks


# ---- T1/T3: full stream + stateful scroll iterator -----------------------


def stream(infotons: DataFrame, path: str | None = None, qp: str | None = None, descendants: bool = False) -> DataFrame:
    """T1 op=stream: full filtered export, no paging caps (ES scroll
    equivalent is Spark's partition-parallel scan)."""
    return search(
        infotons,
        path_filter=PathFilter(path, descendants) if path else None,
        qp=qp,
        length=None,
    )


def create_iterator(path: str | None = None, qp: str | None = None, descendants: bool = False) -> str:
    return encode_token(ConsumeState(0, qp, None, None, path, descendants, False))


def next_chunk(
    infotons: DataFrame, token: str, length: int = SCROLL_PAGE
) -> tuple[str, DataFrame, int]:
    """T3 scroll: cursor = (snapshot, offset); ordered by (index_time,
    uuid) for a total order. The parquet snapshot is immutable so the
    cursor is stable without a session actor (ScrollActor.scala)."""
    st = decode_token(token)
    feed = _feed_filter(infotons, ConsumeState(0, st.qp, None, None, st.path, st.descendants, st.history))
    pending = feed.where(F.col("index_time") > st.ts)
    probe = pending.orderBy(F.asc("index_time"), F.asc("uuid")).limit(length)
    boundary = probe.agg(F.max("index_time").alias("m"), F.count("*").alias("n")).first()
    if boundary["n"] == 0:
        return token, probe, 204
    # deliver every row sharing the boundary index_time (ADVICE r1: a
    # cursor that advances past a tied boundary silently drops the
    # remainder — ties are reachable via overwrite()'s external times)
    page = pending.where(F.col("index_time") <= boundary["m"]).orderBy(
        F.asc("index_time"), F.asc("uuid")
    )
    return encode_token(replace(st, ts=int(boundary["m"]))), page, 200


# ---- T2: mstream / sstream — partition-parallel export --------------------


def mstream(infotons: DataFrame, path: str | None = None, qp: str | None = None, descendants: bool = False):
    """op=mstream/sstream: the reference opens parallel scrolls per index/
    per shard with node affinity (FTSService.startSuperScroll:673-711).
    In Spark the scan IS partition-parallel; this exposes the per-partition
    iterator surface for streaming sinks: returns (n_partitions, rdd of
    rows) so callers can foreachPartition with locality."""
    df = stream(infotons, path=path, qp=qp, descendants=descendants)
    return df.rdd.getNumPartitions(), df


def sstream_partition_counts(infotons: DataFrame, path: str | None = None, qp: str | None = None) -> DataFrame:
    """Per-partition row counts — the observable analog of per-shard
    scroll fan-out (useful for sizing parallel consumers)."""
    df = stream(infotons, path=path, qp=qp)
    return df.select(F.spark_partition_id().alias("partition")).groupBy("partition").count()
