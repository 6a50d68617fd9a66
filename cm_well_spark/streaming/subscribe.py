"""op=subscribe — real-time pub/sub on ingest (T6, SURVEY.md §2.9).

The reference fans out newly-indexed infotons to subscribers whose RULE
matches (cmwell-rts Rule.scala:27-97): a rule is a path prefix (optionally
recursive) and/or a field->values match map (ANY listed field matching ANY
listed value fires — MatchMap.check is an OR over entries). The rule
grammar (RTSQueryPredicate, Parsers.scala:303-351):

    rule    := ('*' | '-')? matches?
    matches := field ':' (value | '[' value,... ']') (',' ...)*
    '*'  -> ignore path (match map only; bare '*' = NoFilter)
    '-'  -> path non-recursive; default -> path recursive

Spark-first: the ingest feed is a Structured Streaming source (file
source over the lakehouse append dir, or Kafka in a deployment); a
subscription is the same declarative filter applied on the stream.
Tumbling/sliding windows deliberately do NOT exist — the reference's
subscribe is filtered fan-out only.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dfield

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cm_well_spark.model.schema import INFOTON_SCHEMA
from cm_well_spark.plans.keyset import restrict


class RuleParseError(ValueError):
    pass


@dataclass(frozen=True)
class Rule:
    path: str | None  # None = NoFilter / MatchFilter ('*' prefix)
    recursive: bool = True
    match_map: tuple = ()  # ((field, (values...)), ...); empty values = existence


_FIELD_RE = re.compile(r"\w[\w\-.]*")
_VALUE_RE = re.compile(r"[^,\[\]]+")


def parse_rule(rule_str: str, path: str) -> Rule:
    """RTSQueryPredicate.parseRule re-expressed."""
    s = rule_str.strip()
    star = s.startswith("*")
    dash = s.startswith("-")
    if star or dash:
        s = s[1:]
    entries = []
    i = 0
    while i < len(s):
        m = _FIELD_RE.match(s, i)
        if not m:
            raise RuleParseError(f"expected field name at {s[i:]!r}")
        f = m.group(0)
        i = m.end()
        if i >= len(s) or s[i] != ":":
            raise RuleParseError(f"expected ':' after field {f!r}")
        i += 1
        vals = []
        if i < len(s) and s[i] == "[":
            i += 1
            while True:
                vm = _VALUE_RE.match(s, i)
                if vm:
                    vals.append(vm.group(0))
                    i = vm.end()
                if i < len(s) and s[i] == ",":
                    i += 1
                    continue
                if i < len(s) and s[i] == "]":
                    i += 1
                    break
                raise RuleParseError("expected ',' or ']' in value list")
        else:
            vm = _VALUE_RE.match(s, i)
            if not vm:
                raise RuleParseError(f"expected value after {f!r}:")
            vals.append(vm.group(0))
            i = vm.end()
        entries.append((f, tuple(vals)))
        if i < len(s) and s[i] == ",":
            i += 1
    if star:
        return Rule(None, True, tuple(entries))
    return Rule(path, not dash, tuple(entries))


def rule_filter(rule: Rule) -> Column:
    """Compile a Rule to a Column over the canonical infoton schema."""
    cond = F.lit(True)
    if rule.path is not None and rule.path != "/":
        if rule.recursive:
            cond = cond & (
                (F.col("path") == rule.path)
                | F.col("path").startswith(rule.path + "/")
            )
        else:
            cond = cond & (F.col("parent") == rule.path)
    if rule.match_map:
        # MatchMap.check: OR over entries; entry fires if the field exists
        # and (no values listed, or any value intersects)
        entry_conds = []
        for fname, values in rule.match_map:
            vals = F.col("fields").getItem(fname)
            exists = vals.isNotNull() & (F.size(vals) > 0)
            if values:
                hit = F.arrays_overlap(F.transform(vals, lambda v: v["value"]), F.array(*map(F.lit, values)))
                entry_conds.append(exists & F.coalesce(hit, F.lit(False)))
            else:
                entry_conds.append(exists)
        ored = entry_conds[0]
        for c in entry_conds[1:]:
            ored = ored | c
        cond = cond & ored
    return cond


def ingest_stream(spark: SparkSession, feed_dir: str) -> DataFrame:
    """The ingest feed as a Structured Streaming source: new parquet files
    appended under feed_dir (the write-path publishes each micro-batch
    here — the Spark analog of the reference's Kafka index-topic)."""
    return spark.readStream.schema(INFOTON_SCHEMA).parquet(feed_dir)


def subscribe(
    feed: DataFrame,
    rule_str: str,
    path: str = "/",
) -> DataFrame:
    """A subscription = the rule filter on the (streaming or batch) feed.
    Sink choice (push callback via foreachBatch / pull queue / memory)
    belongs to the caller."""
    rule = parse_rule(rule_str, path)
    return feed.where(rule_filter(rule))


# ---------------------------------------------------------------------------
# Subscription sessions: pull queues, push callbacks, unsubscribe teardown
# (Application.scala:221-223 routes op=subscribe/unsubscribe/pull ->
# handleSubscribe:318-347 / handleUnsubscribe:371-379 / handlePull:240-300;
# queue semantics are cmwell-rts Subscriber.scala's SubscriberPullActor
# :115-165 — VERDICT r10 item 7)
# ---------------------------------------------------------------------------


class _PullQueue:
    """SubscriberPullActor's bounded uuid buffer (Subscriber.scala:117-164):
    capacity `bulk_size`; an append at capacity drops the OLDEST element
    and raises the overflow flag, a sub-capacity append lowers it (the
    flag reports the LAST append's state and survives drains); the rate
    sensor drops events outright while more than `rate_limit` arrive
    within one second (:138-147 — the reference only logs its intent to
    unsubscribe; data is simply not appended). PullData drains the whole
    buffer (:157-163)."""

    def __init__(self, fmt: str, bulk_size: int = 100, rate_limit: int = 100, clock=None):
        import time as _time

        self.format = fmt
        self.bulk_size = bulk_size
        self.rate_limit = rate_limit
        self._clock = clock or _time.time
        self.data: list[str] = []
        self.overflow = False
        self._window_start = self._clock()
        self._count = 0

    def publish(self, uuid: str) -> None:
        now = self._clock()
        if now - self._window_start <= 1.0 and self._count >= self.rate_limit:
            return  # throttled: event dropped (Subscriber.scala:139-141)
        if now - self._window_start > 1.0:
            self._window_start = now
            self._count = 0
        self._count += 1
        if len(self.data) == self.bulk_size:
            self.data.pop(0)
            self.overflow = True
        else:
            self.overflow = False
        self.data.append(uuid)

    def drain(self) -> dict:
        out = {"overflow": self.overflow, "data": list(self.data), "format": self.format}
        self.data = []
        return out


class SubscriptionManager:
    """Driver-side subscription registry — the Spark analog of the
    SubscriberAgent actor (Subscriber.scala:166-265). Each subscription
    is ONE streaming query: the ingest feed filtered by the compiled
    rule Column, foreachBatch delivering into a pull queue or a push
    callback. subscribe() returns the base64url key the reference's
    endpoints exchange (Subscriber.scala:279-283); unsubscribe() stops
    the query and forgets the session, so later deliveries are
    impossible by construction."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._subs: dict[str, dict] = {}
        self._n = 0

    def subscribe(
        self,
        feed: DataFrame,
        rule_str: str,
        path: str = "/",
        *,
        method: str = "pull",
        fmt: str = "json",
        callback=None,
        bulk_size: int = 100,
        clock=None,
    ) -> str:
        """handleSubscribe (Application.scala:318-347): parse the rule,
        start the filtered delivery, answer with the subscription key.
        method="push" requires `callback` (the getHandlerFor analog —
        called with the list of matched uuids per batch, :349-369);
        missing callback raises the reference's message."""
        import base64
        import tempfile
        import threading

        if method not in ("pull", "push"):
            raise ValueError("unsupported or missing method for real time search")
        if method == "push" and callback is None:
            raise ValueError("missing callback for method push")
        filtered = subscribe(feed, rule_str, path)
        self._n += 1
        name = f"subscriber-{self._n}"
        key = base64.urlsafe_b64encode(name.encode("ascii")).decode("ascii").rstrip("=")
        queue = _PullQueue(fmt, bulk_size=bulk_size, clock=clock) if method == "pull" else None
        lock = threading.Lock()

        def deliver(batch_df: DataFrame, _epoch_id: int = 0) -> None:
            uuids = [r["uuid"] for r in batch_df.select("uuid").collect()]
            if not uuids:
                return
            with lock:
                if key not in self._subs:
                    return  # unsubscribed between trigger and delivery
                if queue is not None:
                    for u in uuids:
                        queue.publish(u)
                else:
                    callback(uuids)

        # register BEFORE starting the query: availableNow may fire the
        # first batch immediately, and deliver() checks registration
        # a per-subscription checkpoint makes re-arms resume where the
        # last availableNow run stopped instead of redelivering the feed
        checkpoint = tempfile.mkdtemp(prefix=f"cmw-sub-{name}-")
        self._subs[key] = {"queue": queue, "query": None, "lock": lock, "name": name,
                           "feed": feed, "rule": rule_str, "path": path,
                           "method": method, "deliver": deliver,
                           "checkpoint": checkpoint}
        if filtered.isStreaming:
            self._subs[key]["query"] = (
                filtered.writeStream.outputMode("append")
                .queryName(name)
                .option("checkpointLocation", checkpoint)
                .foreachBatch(deliver)
                .trigger(availableNow=True)
                .start()
            )
        else:
            deliver(filtered)
        return key

    def process_available(self, key: str) -> None:
        """Drive the subscription's stream over everything currently in
        the feed (test/maintenance hook; a deployment leaves the query
        running with a processingTime trigger). availableNow triggers
        stop when drained, so a finished query is re-armed in place with
        the SAME delivery closure (pull queue or push callback)."""
        sub = self._lookup(key)
        q = sub.get("query")
        if q is None:
            return
        if not q.isActive:
            filtered = subscribe(sub["feed"], sub["rule"], sub["path"])
            sub["query"] = q = (
                filtered.writeStream.outputMode("append")
                .queryName(sub["name"])
                .option("checkpointLocation", sub["checkpoint"])
                .foreachBatch(sub["deliver"])
                .trigger(availableNow=True)
                .start()
            )
        q.awaitTermination()

    def pull(self, key: str) -> dict:
        """handlePull (Application.scala:240-300): drain the session's
        buffer; an empty drain is the keepalive case (the HTTP layer
        emits a newline after 3 s — transport concern, not replicated)."""
        sub = self._lookup(key)
        if sub["queue"] is None:
            raise ValueError("pull is only valid for method=pull subscriptions")
        with sub["lock"]:
            return sub["queue"].drain()

    def unsubscribe(self, key: str) -> str:
        """handleUnsubscribe (Application.scala:371-379): stop the
        delivery query, drop the session, answer 'unsubscribe <key>'."""
        import shutil

        sub = self._lookup(key)
        with sub["lock"]:
            del self._subs[key]
        q = sub.get("query")
        if q is not None and q.isActive:
            q.stop()
        shutil.rmtree(sub.get("checkpoint", ""), ignore_errors=True)
        return f"unsubscribe {key}"

    def _lookup(self, key: str) -> dict:
        if key not in self._subs:
            raise KeyError("missing sub param.")
        return self._subs[key]


def pull_infotons(infotons: DataFrame, uuids: list[str]) -> DataFrame:
    """The fetch half of handlePull (:272-281 getInfotonsByPathOrUuid):
    resolve drained uuids back to full infotons for rendering, through
    keyset.restrict: a drain holds at most the queue's bulk size (100 by
    default), so it stays a literal list that prunes the scan."""
    return restrict(infotons, "uuid", uuids)
