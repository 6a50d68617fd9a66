"""Incremental write batches + compaction (model/compaction.py): the
deferred half of the r6 ingest design — merge-on-read deltas between
compactions, one clustering rewrite that restores file-level min-max
skipping and re-collects predicate_stats.

Reference arcs: imp/indexer append + in-place ES current-flip
(ImpStream.scala:96-137, IndexerStream.scala:100-137); the consistency
machinery compaction replaces is the Cassandra/ES reconciliation the
single-table design never needs.
"""

import os
import shutil
from datetime import datetime

import pytest
from conftest import jobs_in
from pyspark.sql import functions as F

SF_DIR = os.environ.get("CMW_TEST_SF_DIR", "/root/testdata/sf0.001")


def _sfv(v):
    return {"value": v, "vtype": "s", "lang": None, "quad": None, "num": None, "ts": None, "bool": None}


def _cmds(spark, rows):
    from cm_well_spark.operators.merge import COMMAND_SCHEMA

    return spark.createDataFrame(rows, COMMAND_SCHEMA)


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """A private copy of the materialized sf0.001 lakehouse, safe to
    append to and compact."""
    from cm_well_spark.model.lakehouse import materialize

    src = materialize(spark, SF_DIR)
    dst = str(tmp_path_factory.mktemp("lake") / "store")
    shutil.copytree(src, dst)
    return dst


@pytest.fixture(scope="module")
def batched(spark, store):
    """Three incremental merge batches appended to the store, plus the
    same commands folded purely in memory (apply_commands) as the truth
    twin. Returns (store, truth_df)."""
    from cm_well_spark.model.compaction import write_batch
    from cm_well_spark.operators.merge import apply_commands

    lm = datetime(2024, 3, 1)
    batches = [
        [
            ("/tpch/region/0", 1, "write", {"extra": [_sfv("b1")]}, None, lm, "https"),
            ("/tpch/region/90", 1, "write", {"name": [_sfv("NEW90")]}, None, lm, "https"),
        ],
        [
            ("/tpch/region/0", 1, "write", {"extra": [_sfv("b2")]}, None, lm, "https"),
            ("/tpch/region/1", 1, "delete_attributes", None, {"name": []}, lm, "https"),
        ],
        [
            ("/tpch/region/2", 1, "delete_path", None, None, lm, "https"),
            ("/tpch/region/90", 1, "write", {"extra": [_sfv("b3")]}, None, lm, "https"),
        ],
    ]
    for rows in batches:
        write_batch(spark, store, _cmds(spark, rows))

    truth = spark.read.parquet(os.path.join(store, "infotons"))
    for rows in batches:
        truth = apply_commands(truth, _cmds(spark, rows))
        truth = truth.localCheckpoint(eager=True)
    return store, truth


def _current_fields(df):
    return {
        (r["path"], r["kind"], tuple(sorted(r["fields"] or [])))
        for r in df.where(F.col("current")).collect()
    }


def test_reconciled_read_matches_in_memory_merge(spark, batched):
    """Merge-on-read parity: base + deltas with read-side current
    recompute == the same commands folded in memory."""
    from cm_well_spark.model.compaction import reconciled_infotons

    store, truth = batched
    got = reconciled_infotons(spark, store)
    assert _current_fields(got) == _current_fields(truth)
    # exactly one current version per path survives reconciliation
    bad = (
        got.groupBy("path")
        .agg(F.sum(F.col("current").cast("int")).alias("n"))
        .where(F.col("n") != 1)
        .count()
    )
    assert bad == 0


def test_reconciled_triples_flip_current(spark, batched):
    """EAV view re-derives delta-affected subjects: the pre-batch
    version of an updated path is no longer current in triples."""
    from cm_well_spark.model.compaction import reconciled_triples

    store, _ = batched
    tri = reconciled_triples(spark, store)
    cur0 = tri.where((F.col("s") == "/tpch/region/0") & F.col("current"))
    assert {r["o"] for r in cur0.where(F.col("p") == "extra").collect()} == {"b1", "b2"}
    # tombstoned path: no current triples
    assert tri.where((F.col("s") == "/tpch/region/2") & F.col("current") & (F.col("kind") != "DeletedInfoton")).count() == 0


def test_write_batch_watermark_from_footers(spark, batched, tmp_path):
    """write_batch's new watermark is its delta's max index_time, read
    from the parquet footers; a delta with no rows has no statistics and
    falls back to the aggregate, which keeps the old watermark."""
    from cm_well_spark.model.compaction import (
        _INF_DELTA,
        _delta_batches,
        _read_watermark,
        _written_max_index_time,
    )

    store, _ = batched
    last = _delta_batches(store, _INF_DELTA)[-1]
    assert _read_watermark(store) == spark.read.parquet(last).agg(F.max("index_time")).first()[0]
    empty = str(tmp_path / "empty")
    spark.read.parquet(last).where(F.lit(False)).write.parquet(empty)
    assert _written_max_index_time(spark, empty, 7) == 7


def test_compact_folds_and_preserves_results(spark, batched):
    """Compaction parity + layout: same reconciled answers, deltas gone,
    bounded file count, disjoint per-file path ranges (the min-max
    clustering ingest deferred), fresh predicate_stats."""
    from cm_well_spark.model.compaction import compact, reconciled_infotons

    store, truth = batched
    before = _current_fields(reconciled_infotons(spark, store))
    report = compact(spark, store, target_rows_per_file=2_000)
    assert report["folded_batches"] == 3
    assert not os.path.isdir(os.path.join(store, "infotons_delta"))

    after_df = spark.read.parquet(os.path.join(store, "infotons"))
    assert _current_fields(after_df) == before == _current_fields(truth)

    # file-count bound: ceil(rows / target) per table, plus partition split
    n_rows = after_df.count()
    import math

    assert report["infoton_files"] <= math.ceil(n_rows / 2_000) + len(
        [d for d in os.listdir(os.path.join(store, "infotons")) if d.startswith("kind=")]
    )

    # range-clustering evidence: per-file path min/max are disjoint within
    # each kind partition (the property that lets read_point prune files)
    import pyarrow.parquet as pq

    for kind_dir in os.listdir(os.path.join(store, "infotons")):
        if not kind_dir.startswith("kind="):
            continue
        spans = []
        kd = os.path.join(store, "infotons", kind_dir)
        for f in os.listdir(kd):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(kd, f)).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            lo, hi = None, None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx["path"]).statistics
                if st is None:
                    continue
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            if lo is not None:
                spans.append((lo, hi))
        spans.sort()
        for (l1, h1), (l2, h2) in zip(spans, spans[1:]):
            assert h1 <= l2, f"overlapping path ranges in {kind_dir}: {h1} > {l2}"

    # stats refreshed: the new region row is visible to the reorderer
    stats = spark.read.parquet(os.path.join(store, "predicate_stats"))
    name_n = stats.where(F.col("p") == "name").first()["n_triples"]
    assert name_n >= 1


def test_point_read_on_compacted_store_prunes(spark, batched):
    """read_point over the compacted store still answers correctly (and
    the scan carries a pushed path filter)."""
    store, _ = batched
    inf = spark.read.parquet(os.path.join(store, "infotons"))
    row = inf.where(F.col("current") & (F.col("path") == "/tpch/region/90")).select("path").collect()
    assert [r["path"] for r in row] == ["/tpch/region/90"]
    plan = inf.where(F.col("path") == "/tpch/region/90")._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan or "path" in plan


def test_delta_dir_is_a_qstream_feed(spark, store):
    """Composition: write_batch's delta dir IS a change feed — the S12
    qstream file-source (ingest_stream + qp filter) tails it, so
    incremental writes stream to subscribers with no extra publish step
    (the reference publishes to Kafka from the write path; here the
    append itself is the publication)."""
    import shutil
    from datetime import datetime

    from cm_well_spark.model.compaction import write_batch
    from cm_well_spark.operators.admin import qstream_dir

    feed_store = store + "_feed"
    shutil.copytree(store, feed_store)
    lm = datetime(2024, 4, 1)
    write_batch(spark, feed_store, _cmds(spark, [
        ("/tpch/region/0", 1, "write", {"extra": [_sfv("f1")]}, None, lm, "https"),
        ("/tpch/region/55", 1, "write", {"name": [_sfv("STREAMED")]}, None, lm, "https"),
    ]))
    write_batch(spark, feed_store, _cmds(spark, [
        ("/tpch/region/56", 1, "write", {"name": [_sfv("STREAMED")]}, None, lm, "https"),
    ]))

    feed = qstream_dir(
        spark, os.path.join(feed_store, "infotons_delta"),
        qp="name::STREAMED", path="/tpch/region",
    )
    q = feed.writeStream.format("memory").queryName("delta_feed").trigger(availableNow=True).start()
    q.awaitTermination(120)
    got = {r["path"] for r in spark.sql("SELECT path FROM delta_feed").collect()}
    assert got == {"/tpch/region/55", "/tpch/region/56"}


def test_load_infotons_is_merge_on_read_aware(spark, store):
    """lakehouse.load-path parity: a store with pending deltas serves
    the reconciled view through the standard loader — no caller can
    read stale current flags by accident."""
    import shutil
    from datetime import datetime

    from cm_well_spark.model.compaction import write_batch
    from cm_well_spark.model.lakehouse import _load

    mor_store = store + "_mor"
    shutil.copytree(store, mor_store)
    lm = datetime(2024, 6, 1)
    before = _load(spark, mor_store, "infotons")
    assert before.where(F.col("path") == "/tpch/region/77").count() == 0
    write_batch(spark, mor_store, _cmds(spark, [
        ("/tpch/region/77", 1, "write", {"name": [_sfv("MOR77")]}, None, lm, "https"),
    ]))
    after = _load(spark, mor_store, "infotons")
    row = after.where(F.col("current") & (F.col("path") == "/tpch/region/77")).first()
    assert row is not None and row["fields"]["name"][0]["value"] == "MOR77"
    tri = _load(spark, mor_store, "triples")
    assert tri.where((F.col("s") == "/tpch/region/77") & F.col("current") & (F.col("p") == "name")).count() == 1


def test_reconcile_broadcast_gate_over_cap(spark, store, tmp_path, monkeypatch):
    """r8 (verdict fix): above keyset.BROADCAST_MAX the reconcile must NOT
    force-broadcast the affected-path set (a backfill batch touching
    millions of paths would OOM); it hands AQE a plain join instead —
    and the merge-on-read answer is identical either way."""
    from cm_well_spark.model import compaction
    from cm_well_spark.plans import keyset

    # private copy: earlier tests may have compacted the shared store
    mine = str(tmp_path / "gate_store")
    shutil.copytree(store, mine)
    lm = datetime(2024, 4, 1)
    compaction.write_batch(
        spark,
        mine,
        _cmds(
            spark,
            [
                ("/tpch/region/0", 1, "write", {"extra": [_sfv("gate")]}, None, lm, "https"),
                ("/tpch/region/1", 1, "write", {"extra": [_sfv("gate")]}, None, lm, "https"),
            ],
        ),
    )

    hinted = compaction.reconciled_infotons(spark, mine)
    assert "strategy=broadcast" in hinted._jdf.queryExecution().analyzed().toString()

    monkeypatch.setattr(keyset, "BROADCAST_MAX", 0)
    plain = compaction.reconciled_infotons(spark, mine)
    assert "strategy=broadcast" not in plain._jdf.queryExecution().analyzed().toString()
    plain_tri = compaction.reconciled_triples(spark, mine)
    assert "strategy=broadcast" not in plain_tri._jdf.queryExecution().analyzed().toString()

    assert _current_fields(plain) == _current_fields(hinted)


def test_minor_compaction_preserves_reads_and_feed(spark, store, tmp_path):
    """r8: compact_deltas folds N delta batches into one — reconciled
    reads identical, change-feed rows preserved, base untouched, and a
    subsequent write_batch keeps working."""
    from cm_well_spark.model import compaction

    mine = str(tmp_path / "minor_store")
    shutil.copytree(store, mine)
    lm = datetime(2024, 5, 1)
    for i in range(3):
        compaction.write_batch(
            spark,
            mine,
            _cmds(
                spark,
                [(f"/tpch/region/{i}", 1, "write", {"extra": [_sfv(f"m{i}")]}, None, lm, "https")],
            ),
        )
    assert len(compaction._delta_batches(mine, compaction._INF_DELTA)) == 3
    before = _current_fields(compaction.reconciled_infotons(spark, mine))
    feed_before = spark.read.parquet(
        *compaction._delta_batches(mine, compaction._INF_DELTA)
    ).count()
    base_mtime = os.path.getmtime(os.path.join(mine, "infotons"))

    res = compaction.compact_deltas(spark, mine)
    assert res["folded_batches"] == 3 and res["rows"] == feed_before
    assert len(compaction._delta_batches(mine, compaction._INF_DELTA)) == 1
    assert os.path.getmtime(os.path.join(mine, "infotons")) == base_mtime  # base untouched
    after = _current_fields(compaction.reconciled_infotons(spark, mine))
    assert after == before
    # noop on a single batch
    assert compaction.compact_deltas(spark, mine)["folded_batches"] == 0
    # next write lands as batch=1
    compaction.write_batch(
        spark,
        mine,
        _cmds(spark, [("/tpch/region/5", 1, "write", {"extra": [_sfv("post")]}, None, lm, "https")]),
    )
    assert len(compaction._delta_batches(mine, compaction._INF_DELTA)) == 2


def test_info_path_reports_layers(spark, tmp_path_factory):
    """op=info analog (admin.info_path): store + index rows for a clean
    path; after an incremental write batch, the affected path also
    reports its pending delta location, and the store layer reflects
    the reconciled current flip."""
    from cm_well_spark.model.compaction import write_batch
    from cm_well_spark.model.lakehouse import materialize
    from cm_well_spark.operators.admin import info_path

    src = materialize(spark, SF_DIR)
    root = str(tmp_path_factory.mktemp("inforoot"))
    dst = os.path.join(root, os.path.basename(src))
    shutil.copytree(src, dst)

    rows = info_path(spark, SF_DIR, ["/tpch/region/0"], root=root).collect()
    layers = {r["layer"] for r in rows}
    assert layers == {"store", "index"}
    store_rows = [r for r in rows if r["layer"] == "store"]
    assert len(store_rows) == 1 and store_rows[0]["current"]
    assert store_rows[0]["location"] == "infotons/kind=ObjectInfoton"
    assert store_rows[0]["file"].endswith(".parquet") and store_rows[0]["uuid"]
    assert {r["location"] for r in rows if r["layer"] == "index"} == {
        "triples/p=name", "triples/p=regionkey", "triples/p=rdfType"
    }

    lm = datetime(2024, 3, 1)
    write_batch(
        spark, dst,
        _cmds(spark, [("/tpch/region/0", 1, "write", {"extra": [_sfv("x")]}, None, lm, "https")]),
    )
    rows2 = info_path(spark, SF_DIR, ["/tpch/region/0"], root=root).collect()
    assert {r["layer"] for r in rows2} == {"store", "index", "delta"}
    deltas = [r for r in rows2 if r["layer"] == "delta"]
    assert [d["location"] for d in deltas] == ["infotons_delta/batch=0"]
    assert deltas[0]["index_time"] > 1700000000000 and deltas[0]["file"].endswith(".parquet")
    # physical report: the base row is untouched (stale current until
    # compaction folds the delta); the new version lives in the delta
    base = [r for r in rows2 if r["layer"] == "store"]
    assert len(base) == 1 and base[0]["index_time"] == 1700000000000


@pytest.mark.parametrize("seed", [11, 42])
def test_minor_compaction_random_schedule_consume_parity(spark, store, tmp_path, seed):
    """r9 (VERDICT r8 item 7): property-pin minor compaction against the
    consume contract — a RANDOMIZED schedule of write_batch /
    compact_deltas interleavings must leave the change feed and the
    reconciled current view identical with and without minor folds.
    Twin stores take the same command sequence; only one interleaves
    compact_deltas at random points; the full consume drain from the
    base watermark is compared as (path, index_time, uuid, current)
    sets (small chunk so at-least-once cuts are exercised; the drained
    view is materialized first — the consume contract is over any
    DataFrame, and parity is about content, not recompute cost)."""
    import random

    from cm_well_spark.model import compaction
    from cm_well_spark.operators.consume import WATERMARK_MS, create_consumer, drain
    from cm_well_spark.plans.iterative import iter_checkpoint

    rng = random.Random(seed)
    plain = str(tmp_path / "sched_plain")
    folded = str(tmp_path / "sched_folded")
    shutil.copytree(store, plain)
    shutil.copytree(store, folded)
    # the pristine store has no watermark file yet — the feed starts at
    # the base's max index_time, so drains see only this schedule's rows
    since = (
        spark.read.parquet(os.path.join(plain, "infotons"))
        .agg(F.max("index_time").alias("m"))
        .first()["m"]
    )
    lm = datetime(2024, 7, 1)
    paths = [f"/tpch/region/{i}" for i in range(10)]

    def feed(out):
        inf = iter_checkpoint(compaction.reconciled_infotons(spark, out))
        max_it = inf.agg(F.max("index_time").alias("m")).first()["m"] or since
        tok = create_consumer(since_ms=since, history=True)
        _tok, chunks = drain(inf, tok, chunk=5, now_ms=max_it + WATERMARK_MS + 1)
        rows = [r for c in chunks for r in c.collect()]
        return {(r["path"], r["index_time"], r["uuid"], r["current"]) for r in rows}

    n_steps = 4
    n_folds = 0
    for step in range(n_steps):
        cmds = []
        for _ in range(rng.randrange(1, 4)):
            p = rng.choice(paths)
            op = rng.choices(["write", "delete_attributes", "delete_path"], [0.7, 0.15, 0.15])[0]
            if op == "write":
                cmds.append((p, 1, "write", {"extra": [_sfv(f"s{step}v{rng.randrange(100)}")]}, None, lm, "https"))
            elif op == "delete_attributes":
                cmds.append((p, 1, "delete_attributes", None, {"extra": []}, lm, "https"))
            else:
                cmds.append((p, 1, "delete_path", None, None, lm, "https"))
        for out in (plain, folded):
            compaction.write_batch(spark, out, _cmds(spark, cmds))
        if rng.random() < 0.6 and step < n_steps - 1:
            n_folds += compaction.compact_deltas(spark, folded)["folded_batches"] and 1
    assert n_folds >= 1, f"schedule exercised no fold (seed {seed})"
    assert feed(folded) == feed(plain), f"feed diverged (seed {seed})"
    assert _current_fields(
        compaction.reconciled_infotons(spark, folded)
    ) == _current_fields(compaction.reconciled_infotons(spark, plain))


def _path_spans_disjoint(table_dir):
    """Per partition subdir: each file's (min, max) of the leading sort
    key from the parquet footer, asserted pairwise disjoint."""
    import pyarrow.parquet as pq

    for sub in os.listdir(table_dir):
        d = os.path.join(table_dir, sub)
        if "=" not in sub or not os.path.isdir(d):
            continue
        col = "path" if sub.startswith("kind=") else "o"
        spans = []
        for f in os.listdir(d):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(d, f)).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            lo, hi = None, None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[col]).statistics
                if st is None:
                    continue
                mn = st.min.decode() if isinstance(st.min, bytes) else st.min
                mx = st.max.decode() if isinstance(st.max, bytes) else st.max
                lo = mn if lo is None else min(lo, mn)
                hi = mx if hi is None else max(hi, mx)
            if lo is not None:
                spans.append((lo, hi))
        spans.sort()
        for (l1, h1), (l2, h2) in zip(spans, spans[1:]):
            assert h1 <= l2, f"overlapping {col} ranges in {sub}: {h1!r} > {l2!r}"


def _unsorted_doc_files(inf_dir):
    """The doc-table files whose rows are not in path order."""
    import pyarrow.parquet as pq

    bad = []
    for root, _dirs, files in os.walk(inf_dir):
        for f in files:
            if f.endswith(".parquet"):
                col = pq.read_table(os.path.join(root, f), columns=["path"]).column("path")
                paths = col.to_pylist()
                if paths != sorted(paths):
                    bad.append(os.path.relpath(os.path.join(root, f), inf_dir))
    return bad


def test_every_doc_file_is_path_sorted(spark, tmp_path_factory):
    """Row groups skip on path min-max only if each file is path-sorted.
    A partitionBy("kind") write adds its own local sort on kind and drops
    a sortWithinPartitions that does not lead with it, so every doc-table
    write leads its sort with the partition columns: ingest, the full
    compact's range shuffle and the incremental fold's bucket write."""
    from cm_well_spark.model.compaction import compact, write_batch
    from cm_well_spark.model.lakehouse import materialize

    dst = str(tmp_path_factory.mktemp("sorted") / "store")
    shutil.copytree(materialize(spark, SF_DIR), dst)
    inf_dir = os.path.join(dst, "infotons")
    assert _unsorted_doc_files(inf_dir) == []

    assert compact(spark, dst, target_rows_per_file=2_000, mode="full")["mode"] == "full"
    assert _unsorted_doc_files(inf_dir) == []

    lm = datetime(2024, 9, 1)
    rows = [
        (p, 1, "write", {"extra": [_sfv("sorted")]}, None, lm, "https")
        for p in ("/tpch/region/3", "/tpch/nation/12", "/tpch/part/99", "/tpch/zzz/sorted")
    ]
    write_batch(spark, dst, _cmds(spark, rows))
    assert compact(spark, dst, target_rows_per_file=2_000)["mode"] == "incremental"
    assert _unsorted_doc_files(inf_dir) == []
    _path_spans_disjoint(inf_dir)


def test_incremental_compact_parity_layout_and_bounded_rewrite(spark, tmp_path_factory):
    """VERDICT r9 item 7: after a full compact has stamped the
    range-clustered layout, the next compact takes the FILE-LEVEL
    incremental path — same reconciled answers as merge-on-read, deltas
    gone, per-file ranges still disjoint, and only the delta-affected
    files rewritten (untouched files survive byte-identical via
    hardlink)."""
    from cm_well_spark.model.compaction import (
        compact,
        reconciled_infotons,
        reconciled_triples,
        write_batch,
    )
    from cm_well_spark.model.lakehouse import materialize

    src = materialize(spark, SF_DIR)
    dst = str(tmp_path_factory.mktemp("ilake") / "store")
    shutil.copytree(src, dst)

    r1 = compact(spark, dst, target_rows_per_file=2_000)
    assert r1["mode"] == "full"
    inf_dir = os.path.join(dst, "infotons")
    inventory = {
        (sub, f): os.stat(os.path.join(inf_dir, sub, f)).st_ino
        for sub in os.listdir(inf_dir)
        if os.path.isdir(os.path.join(inf_dir, sub))
        for f in os.listdir(os.path.join(inf_dir, sub))
        if f.endswith(".parquet")
    }

    lm = datetime(2024, 4, 1)
    write_batch(
        spark,
        dst,
        _cmds(
            spark,
            [
                ("/tpch/region/0", 1, "write", {"extra": [_sfv("inc1")]}, None, lm, "https"),
                ("/tpch/nation/7", 1, "write", {"name": [_sfv("RENAMED")]}, None, lm, "https"),
            ],
        ),
    )
    write_batch(
        spark,
        dst,
        _cmds(
            spark,
            [
                ("/tpch/region/0", 1, "write", {"extra": [_sfv("inc2")]}, None, lm, "https"),
                ("/tpch/zzz/new", 1, "write", {"name": [_sfv("BRANDNEW")]}, None, lm, "https"),
            ],
        ),
    )

    before_inf = _current_fields(reconciled_infotons(spark, dst))
    tri_before = reconciled_triples(spark, dst)
    n_tri_before = tri_before.count()
    aff = ["/tpch/region/0", "/tpch/nation/7", "/tpch/zzz/new"]
    tri_aff_before = {
        tuple(r)
        for r in tri_before.where(F.col("s").isin(aff))
        .select("s", "p", "o", "current")
        .collect()
    }

    r2 = compact(spark, dst, target_rows_per_file=2_000)
    assert r2["mode"] == "incremental"
    assert r2["folded_batches"] == 2
    assert not os.path.isdir(os.path.join(dst, "infotons_delta"))
    # bounded surgery: strictly fewer files rewritten than kept
    assert 1 <= r2["rewritten_infoton_files"] < len(inventory)

    after_inf = spark.read.parquet(inf_dir)
    assert _current_fields(after_inf) == before_inf
    after_tri = spark.read.parquet(os.path.join(dst, "triples"))
    assert after_tri.count() == n_tri_before
    tri_aff_after = {
        tuple(r)
        for r in after_tri.where(F.col("s").isin(aff))
        .select("s", "p", "o", "current")
        .collect()
    }
    assert tri_aff_after == tri_aff_before

    _path_spans_disjoint(inf_dir)
    _path_spans_disjoint(os.path.join(dst, "triples"))

    # untouched files survive as hardlinks to the same inodes
    surviving = {
        (sub, f): os.stat(os.path.join(inf_dir, sub, f)).st_ino
        for sub in os.listdir(inf_dir)
        if os.path.isdir(os.path.join(inf_dir, sub))
        for f in os.listdir(os.path.join(inf_dir, sub))
        if f.endswith(".parquet")
    }
    kept = set(inventory) & set(surviving)
    assert len(kept) == len(inventory) - r2["rewritten_infoton_files"]
    assert all(surviving[k] == inventory[k] for k in kept)

    # stats refreshed: the renamed nation is visible to the reorderer
    stats = spark.read.parquet(os.path.join(dst, "predicate_stats"))
    assert stats.where(F.col("p") == "name").first()["n_triples"] >= 1


def test_incremental_mode_raises_without_prior_full_compact(spark, tmp_path_factory):
    from cm_well_spark.model.compaction import compact, write_batch
    from cm_well_spark.model.lakehouse import materialize

    src = materialize(spark, SF_DIR)
    dst = str(tmp_path_factory.mktemp("ulake") / "store")
    shutil.copytree(src, dst)
    lm = datetime(2024, 4, 1)
    write_batch(
        spark,
        dst,
        _cmds(spark, [("/tpch/region/0", 1, "write", {"extra": [_sfv("x")]}, None, lm, "https")]),
    )
    with pytest.raises(ValueError, match="incremental compaction preconditions"):
        compact(spark, dst, mode="incremental")
    # auto falls back to the full clustering shuffle on the same store
    assert compact(spark, dst)["mode"] == "full"


@pytest.mark.parametrize("seed", [11, 23])
def test_incremental_vs_full_compact_random_schedule(spark, tmp_path_factory, seed):
    """Property pin for the incremental fold (r10): twin stores take the
    SAME randomized write/delete-attribute/delete-path batch schedule
    with interleaved compactions — one twin folds incrementally (after
    an initial full compact stamps the layout), the other always takes
    the full clustering shuffle. The reconciled current view, the full
    version sets, and the triples view must be identical, and the
    incremental twin's per-file ranges must stay disjoint after every
    fold (delete semantics, multi-version paths, and brand-new paths
    all flow through the file-level surgery)."""
    import random

    from cm_well_spark.model import compaction
    from cm_well_spark.model.lakehouse import materialize

    rng = random.Random(seed)
    src = materialize(spark, SF_DIR)
    inc = str(tmp_path_factory.mktemp(f"inc{seed}") / "s")
    full = str(tmp_path_factory.mktemp(f"full{seed}") / "s")
    shutil.copytree(src, inc)
    shutil.copytree(src, full)
    r = compaction.compact(spark, inc, target_rows_per_file=2_000)
    assert r["mode"] == "full"  # stamps the layout marker
    compaction.compact(spark, full, target_rows_per_file=2_000, mode="full")

    lm = datetime(2024, 8, 1)
    paths = [f"/tpch/region/{i}" for i in range(10)] + [
        f"/tpch/brandnew/{seed}-{i}" for i in range(3)
    ]
    n_incremental = 0
    for step in range(3):
        cmds = []
        for _ in range(rng.randrange(1, 5)):
            p = rng.choice(paths)
            op = rng.choices(["write", "delete_attributes", "delete_path"], [0.7, 0.15, 0.15])[0]
            if op == "write":
                cmds.append((p, 1, "write", {"extra": [_sfv(f"s{step}v{rng.randrange(100)}")]}, None, lm, "https"))
            elif op == "delete_attributes":
                cmds.append((p, 1, "delete_attributes", None, {"extra": []}, lm, "https"))
            else:
                cmds.append((p, 1, "delete_path", None, None, lm, "https"))
        for out in (inc, full):
            compaction.write_batch(spark, out, _cmds(spark, cmds))
        ri = compaction.compact(spark, inc, target_rows_per_file=2_000)
        rf = compaction.compact(spark, full, target_rows_per_file=2_000, mode="full")
        assert rf["mode"] == "full"
        if ri["mode"] == "incremental":
            n_incremental += 1
        _path_spans_disjoint(os.path.join(inc, "infotons"))
        _path_spans_disjoint(os.path.join(inc, "triples"))
    assert n_incremental >= 2, f"schedule exercised too few incremental folds (seed {seed})"

    inf_inc = spark.read.parquet(os.path.join(inc, "infotons"))
    inf_full = spark.read.parquet(os.path.join(full, "infotons"))
    assert _current_fields(inf_inc) == _current_fields(inf_full)
    # full version-set parity (history preserved identically)
    vs = lambda df: {
        (r["path"], r["index_time"], r["uuid"], r["current"], r["kind"])
        for r in df.collect()
    }
    assert vs(inf_inc.select("path", "index_time", "uuid", "current", "kind")) == vs(
        inf_full.select("path", "index_time", "uuid", "current", "kind")
    )
    tri = lambda out: {
        tuple(r)
        for r in spark.read.parquet(os.path.join(out, "triples"))
        .select("s", "p", "o", "g", "index_time", "current")
        .collect()
    }
    assert tri(inc) == tri(full)


def test_subject_bloom_sidecars_make_fold_scan_free(spark, tmp_path_factory):
    """VERDICT r10 item 3: incremental compaction's triples hit-file
    detection must not scan the full store. A full compact writes one
    subject bloom sidecar per triples file; the next fold probes the
    blooms (scanned_no_sidecar == 0), rewrites the right files, and
    refreshes sidecars so a SECOND fold is also scan-free. Deleting the
    sidecars degrades gracefully to a restricted columnar scan with
    identical results."""
    from cm_well_spark.model.compaction import (
        _BLOOM_DIR,
        _subject_bloom_probe,
        _subject_probes,
        _table_rel_files,
        compact,
        write_batch,
    )
    from cm_well_spark.model.lakehouse import materialize

    src = materialize(spark, SF_DIR)
    dst = str(tmp_path_factory.mktemp("blake") / "store")
    shutil.copytree(src, dst)
    assert compact(spark, dst, target_rows_per_file=2_000)["mode"] == "full"

    tri_dir = os.path.join(dst, "triples")
    bloom_root = os.path.join(dst, _BLOOM_DIR)
    data_files = set(_table_rel_files(tri_dir))
    sidecars = {
        os.path.relpath(os.path.join(r, f), bloom_root)[: -len(".bloom")]
        for r, _d, fs in os.walk(bloom_root)
        for f in fs
        if f.endswith(".bloom")
    }
    assert sidecars == data_files  # one bloom per file, none stale

    # no false negatives: every file's own subjects probe as hits
    some = spark.read.option("basePath", tri_dir).parquet(
        os.path.join(tri_dir, sorted(data_files)[0])
    )
    subjects = [r["s"] for r in some.select("s").distinct().limit(5).collect()]
    assert _subject_bloom_probe(dst, sorted(data_files)[0], _subject_probes(spark, subjects))
    # a subject that exists nowhere probes False on (nearly) all files
    ghost = _subject_probes(spark, ["/no/such/subject/xyzzy-42"])
    misses = sum(
        _subject_bloom_probe(dst, f, ghost) is False for f in data_files
    )
    # tolerance matched to the bloom's DESIGN fp rate (~0.8%/file at 10
    # bits/row, k=7): with ~93 files the expected fp count is ~0.74, so
    # "<=1" flaked whenever two files collided (P >= 17% per run — seen
    # r11 in the full-suite order where range-sampling shifted file
    # contents). 5% of files keeps P(flake) under 0.1% while still
    # catching a broken bloom (which would hit on EVERY file).
    assert misses >= len(data_files) - max(1, len(data_files) // 20)

    lm = datetime(2024, 5, 1)
    write_batch(
        spark,
        dst,
        _cmds(
            spark,
            [("/tpch/region/1", 1, "write", {"extra": [_sfv("bloomed")]}, None, lm, "https")],
        ),
    )
    r = compact(spark, dst, target_rows_per_file=2_000)
    assert r["mode"] == "incremental"
    assert r["scanned_no_sidecar"] == 0
    assert r["bloom_probed_files"] == len(data_files)
    tri = spark.read.parquet(tri_dir)
    assert (
        tri.where((F.col("s") == "/tpch/region/1") & (F.col("p") == "extra") & F.col("current"))
        .first()["o"]
        == "bloomed"
    )
    # sidecars refreshed in lockstep with the fold
    data_files2 = set(_table_rel_files(tri_dir))
    sidecars2 = {
        os.path.relpath(os.path.join(r_, f), bloom_root)[: -len(".bloom")]
        for r_, _d, fs in os.walk(bloom_root)
        for f in fs
        if f.endswith(".bloom")
    }
    assert sidecars2 == data_files2

    # fallback: no sidecars -> restricted scan covers every file, same answer
    shutil.rmtree(bloom_root)
    write_batch(
        spark,
        dst,
        _cmds(
            spark,
            [("/tpch/region/1", 1, "write", {"extra": [_sfv("rescanned")]}, None, lm, "https")],
        ),
    )
    r2 = compact(spark, dst, target_rows_per_file=2_000)
    assert r2["mode"] == "incremental"
    assert r2["scanned_no_sidecar"] == len(data_files2)
    tri = spark.read.parquet(tri_dir)
    # field-union merge: the second write folds INTO the current version,
    # so both values are current on it
    assert {
        r["o"]
        for r in tri.where(
            (F.col("s") == "/tpch/region/1") & (F.col("p") == "extra") & F.col("current")
        ).collect()
    } == {"bloomed", "rescanned"}


# ---------------------------------------------------------------------------
# Merge-on-read views from delta footers: the affected-path bound and key
# range come from the batch files' parquet footers, so building a view
# runs no Spark job; a footer without `path` statistics falls back to the
# counted route.
# ---------------------------------------------------------------------------


@pytest.fixture()
def pristine(spark, tmp_path):
    """A private copy of the materialized store with no deltas."""
    from cm_well_spark.model.lakehouse import materialize

    dst = str(tmp_path / "pristine")
    shutil.copytree(materialize(spark, SF_DIR), dst)
    return dst


def _row_hashes(df):
    return sorted(r[0] for r in df.select(F.md5(F.to_json(F.struct(*df.columns)))).collect())


def _counted_views(spark, out, monkeypatch):
    """Both views through the counted route: the deltas' distinct paths
    without a proof, so restrict counts them."""
    from cm_well_spark.model import compaction

    with monkeypatch.context() as m:
        m.setattr(compaction, "_delta_paths", lambda deltas, _batches: deltas.select("path").distinct())
        return compaction.reconciled_infotons(spark, out), compaction.reconciled_triples(spark, out)


def test_footer_proven_views_match_the_counted_route(spark, pristine, monkeypatch):
    from cm_well_spark.model import compaction

    lm = datetime(2024, 8, 1)
    steps = [
        ("no delta", None),
        ("one batch", [
            ("/tpch/region/0", 1, "write", {"extra": [_sfv("f1")]}, None, lm, "https"),
            ("/tpch/nation/3", 1, "delete_attributes", None, {"name": []}, lm, "https"),
        ]),
        ("several batches", [
            ("/tpch/region/0", 1, "write", {"extra": [_sfv("f2")]}, None, lm, "https"),
            ("/tpch/region/95", 1, "write", {"name": [_sfv("R95")]}, None, lm, "https"),
        ]),
        ("a batch deleting a path", [("/tpch/region/1", 1, "delete_path", None, None, lm, "https")]),
        ("after compact_deltas", "fold"),
    ]
    for label, step in steps:
        if step == "fold":
            compaction.compact_deltas(spark, pristine)
        elif step:
            compaction.write_batch(spark, pristine, _cmds(spark, step))
        counted = _counted_views(spark, pristine, monkeypatch)
        proven = compaction.reconciled_infotons(spark, pristine), compaction.reconciled_triples(spark, pristine)
        for c, p in zip(counted, proven):
            assert _row_hashes(p) == _row_hashes(c), label
    deleted = compaction.reconciled_infotons(spark, pristine).where(F.col("current") & (F.col("path") == "/tpch/region/1"))
    assert [r["kind"] for r in deleted.collect()] == ["DeletedInfoton"]


def test_building_a_view_with_pending_deltas_fires_no_job(spark, pristine):
    from cm_well_spark.model import compaction
    from cm_well_spark.model.lakehouse import read_stored
    from cm_well_spark.plans.keyset import proven_path_bound

    lm = datetime(2024, 8, 2)
    for i in range(2):
        compaction.write_batch(spark, pristine, _cmds(spark, [
            (f"/tpch/region/{i}", 1, "write", {"extra": [_sfv(f"j{i}")]}, None, lm, "https"),
            ("/tpch/nation/7", 1, "write", {"extra": [_sfv(f"j{i}")]}, None, lm, "https"),
        ]))
    batches = compaction._delta_batches(pristine, compaction._INF_DELTA)
    # the footers prove 4 delta rows, the bound on the distinct paths
    paths = compaction._delta_paths(read_stored(spark, "infotons", *batches), batches)
    assert proven_path_bound(paths) == 4

    (inf, tri), jobs = jobs_in(
        spark, lambda: (compaction.reconciled_infotons(spark, pristine), compaction.reconciled_triples(spark, pristine))
    )
    assert jobs == []
    assert "strategy=broadcast" in inf._jdf.queryExecution().analyzed().toString()
    cur = tri.where(F.col("current") & (F.col("s") == "/tpch/nation/7") & (F.col("p") == "extra"))
    assert sorted(r["o"] for r in cur.collect()) == ["j0", "j1"]  # a write adds values


def test_delta_without_path_statistics_takes_the_counted_route(spark, pristine, monkeypatch):
    from cm_well_spark.model import compaction
    from cm_well_spark.model.lakehouse import read_stored
    from cm_well_spark.plans.keyset import proven_path_bound

    lm = datetime(2024, 8, 3)
    compaction.write_batch(spark, pristine, _cmds(spark, [
        ("/tpch/region/0", 1, "write", {"extra": [_sfv("s0")]}, None, lm, "https"),
    ]))
    # parquet writes no min/max for a column chunk whose values pass 4 KB
    long_path = "/tpch/region/" + "x" * 5000
    compaction.write_batch(spark, pristine, _cmds(spark, [
        (long_path, 1, "write", {"name": [_sfv("LONG")]}, None, lm, "https"),
    ]))
    batches = compaction._delta_batches(pristine, compaction._INF_DELTA)
    stats = [(lo, n) for _f, lo, _hi, n in compaction._file_col_ranges(batches[-1], "path")[""]]
    assert stats and all(lo is None for lo, n in stats if n)
    deltas = read_stored(spark, "infotons", *batches)
    # the delta files hold the stored columns in another order
    assert sorted(deltas.columns) == sorted(spark.read.parquet(*batches).columns)
    assert proven_path_bound(compaction._delta_paths(deltas, batches)) is None

    (inf, tri), jobs = jobs_in(
        spark, lambda: (compaction.reconciled_infotons(spark, pristine), compaction.reconciled_triples(spark, pristine))
    )
    assert jobs  # the affected paths were counted
    counted = _counted_views(spark, pristine, monkeypatch)
    assert _row_hashes(inf) == _row_hashes(counted[0])
    assert _row_hashes(tri) == _row_hashes(counted[1])
    row = inf.where(F.col("current") & (F.col("path") == long_path)).first()
    assert row["fields"]["name"][0]["value"] == "LONG"


def test_loader_serves_the_store_a_compaction_leaves(spark, pristine):
    """The loader memoizes a frame per delta count, and a compaction
    brings the count back to an earlier value: compact_deltas and
    compact drop the memoized frames, whose files they removed."""
    from cm_well_spark.model import compaction
    from cm_well_spark.model.lakehouse import _load

    lm = datetime(2024, 8, 5)
    n = _load(spark, pristine, "infotons").count()
    for i in range(2):
        compaction.write_batch(spark, pristine, _cmds(spark, [
            (f"/tpch/region/{i}", 1, "write", {"extra": [_sfv(f"l{i}")]}, None, lm, "https"),
        ]))
        assert _load(spark, pristine, "infotons").count() == n + i + 1
    compaction.compact_deltas(spark, pristine)
    assert _load(spark, pristine, "infotons").count() == n + 2
    compaction.compact(spark, pristine)
    assert _load(spark, pristine, "infotons").count() == n + 2


def test_compact_deltas_takes_its_row_count_from_footers(spark, pristine):
    from cm_well_spark.model import compaction
    from cm_well_spark.model.lakehouse import read_stored

    lm = datetime(2024, 8, 4)
    for i in range(3):
        compaction.write_batch(spark, pristine, _cmds(spark, [
            (f"/tpch/region/{i}", 1, "write", {"extra": [_sfv(f"c{i}")]}, None, lm, "https"),
            ("/tpch/region/4", 1, "write", {"extra": [_sfv(f"c{i}")]}, None, lm, "https"),
        ]))
    rows = read_stored(spark, "infotons", *compaction._delta_batches(pristine, compaction._INF_DELTA)).count()
    res, jobs = jobs_in(spark, lambda: compaction.compact_deltas(spark, pristine))
    assert res == {"folded_batches": 3, "rows": rows}
    assert len(jobs) <= 2
