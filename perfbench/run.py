"""Seeded, layer-traced benchmark of cm_well_spark's read and write paths.

    python3 perfbench/run.py --workload kg_interactive --seed 1 --seconds 5 --trace 0

One client in one process drives Spark local[<cores>] in a closed loop
(each call starts when the previous one has returned). A run:

  1. generates the operation plan from --seed and the raw tables (the
     sf0.001 test tables in perfbench/data/);
  2. sets up: starts the session, builds the store from the raw tables
     into the run's own directory, and warms it (`setup_s`); for
     kg_write_churn, setup also gives the store its first full `compact`,
     as a live store has had;
  3. for kg_interactive, runs every distinct operation once, collects
     its rows and compares them with a DuckDB oracle over the raw tables,
     then runs one round on the `noop` sink (both untimed; they warm the
     plans and the JIT);
  4. runs whole rounds of the workload for at least --seconds, each
     result fully materialized with the `noop` sink;
  5. for kg_write_churn, checks the write invariants and times the final
     major compaction;
  6. prints, as the last line of stdout, one JSON object with `correct`,
     `attempted`, `failed` and `metrics` — the end-to-end metrics with
     --trace 0, the per-layer metrics with --trace 1.

Progress, host readings and per-template timings go to stderr and to
perfbench/.work/records/. See perfbench/README.md for every metric.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TABLES_DIR = os.path.join(HERE, "data", "sf0.001")  # the raw tables

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
    "store_amp": "ratio",
}
PER_LAYER = {
    "lakehouse.materialize_s": "s",
    "lakehouse.materialize_shuffle_write_bytes": "bytes",
    "lakehouse.store_bytes": "bytes",
    "lakehouse.warm_s": "s",
    "lakehouse.cached_bytes": "bytes",
    "lakehouse.stats_served_ratio": "ratio",
    "parsers.parse_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "exec.plan_s": "s",
    "exec.exec_s": "s",
    "exec.count_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.input_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.task_skew": "ratio",
    "exec.result_rows": "count",
    "exec.leaked_persisted": "count",
    "compaction.write_batch_s": "s",
    "compaction.write_batch_jobs": "count",
    "compaction.delta_bytes": "bytes",
    "compaction.write_amp": "ratio",
    "compaction.reconcile_s": "s",
    "compaction.pending_batches": "count",
    "compaction.compact_deltas_s": "s",
    "compaction.bytes_rewritten": "bytes",
    "compaction.incremental_ratio": "ratio",
    "read_p50_s": "s",
    "read_tail_s": "s",
    "write_p50_s": "s",
    "write_tail_s": "s",
    "compact_s": "s",
    "failed_ratio": "ratio",
    "trace.ops_per_s": "1/s",
}


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"# {time.perf_counter() - _T0:7.2f}s {msg}", file=sys.stderr, flush=True)


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it. With fewer than 21 samples that percentile would
    lie below the median, so the maximum is given instead."""
    v = sorted(values)
    n = len(v)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 21:
        return v[-1], 100.0, n
    return v[n - 11], 100.0 * (n - 10) / n, n


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def same_rows(got, want) -> bool:
    """Spark rows (pandas) equal the oracle's (pandas), as sets, by the
    order-insensitive hash of the registry's oracle check."""
    from check_oracle import canon

    cols = sorted(got.columns)
    if cols != sorted(want.columns) or len(got) != len(want):
        return False
    return canon(got.to_dict("records"), cols) == canon(want.to_dict("records"), cols)


class Run:
    """State and measurements of one benchmark run."""

    def __init__(self, args, run_dir: str):
        self.args = args
        self.run_dir = run_dir
        self.raw = TABLES_DIR
        self.read_lat: list[float] = []
        self.write_lat: list[float] = []
        self.compact_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.phase_ops = 0
        self.phase_s = 0.0
        self.rows: dict[str, int] = {}
        self.by_template: dict[str, list[float]] = {}
        self.layer: dict[str, float] = {}
        self.user_bytes = 0

    # -- helpers -----------------------------------------------------------

    def fail(self, what: str, err: object) -> None:
        self.failed += 1
        log(f"FAILED {what}: {err}")

    def oracle(self):
        import duckdb
        import plans

        con = duckdb.connect()
        for t in plans.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(self.raw, t)}.parquet')")
        return con

    def timed_call(self, key: str, build) -> None:
        """Build one read and materialize it with the noop sink; its
        latency is what the caller waits for (build + execution). Traced
        runs also force the physical plan and time a `.count()` of it."""
        tr = self.tracer
        self.attempted += 1
        persisted0 = tr.probe.persisted_rdds() if tr.enabled else 0
        try:
            with tr.span(key, "operators.build") as b:
                df = build()
            if tr.enabled:
                with tr.span(key, "exec.plan"):
                    df._jdf.queryExecution().executedPlan()
            with tr.span(key, "exec.exec") as e:
                df.write.format("noop").mode("overwrite").save()
            if tr.enabled:
                with tr.span(key, "exec.count") as c:
                    c["rows"] = df.count()
                # growth in persisted RDDs: a call that replaces a cached
                # RDD or lets the engine evict one adds nothing
                e["leaked"] = max(0, tr.probe.persisted_rdds() - persisted0)
        except Exception as err:  # noqa: BLE001 - a failing op is counted, the run goes on
            self.fail(key, err)
            return
        self.read_lat.append(b["s"] + e["s"])
        self.by_template.setdefault(key, []).append(b["s"] + e["s"])

    def rounds(self, t0: float):
        """Round numbers 1, 2, ...: whole rounds until --seconds have
        passed since t0, and at least one, so every template is sampled
        even when a slow host makes one round outlast --seconds."""
        r = 1
        while r == 1 or time.perf_counter() - t0 < self.args.seconds:
            yield r
            r += 1

    def parse_probe(self, key: str, texts: dict[str, str]) -> None:
        if not self.tracer.enabled or not texts:
            return
        from cm_well_spark.operators.sparql.parser import parse_sparql
        from cm_well_spark.parsers.ap import parse_ap
        from cm_well_spark.parsers.expansion import parse_gqp, parse_xg, parse_yg
        from cm_well_spark.parsers.qp import parse_qp

        parsers = {"qp": parse_qp, "ap": parse_ap, "xg": parse_xg, "yg": parse_yg, "gqp": parse_gqp, "sparql": parse_sparql}
        with self.tracer.span(key, "parsers.parse"):
            for kind, text in texts.items():
                parsers[kind](text)

    # -- workloads ---------------------------------------------------------

    def kg_interactive(self, store) -> None:
        import ops
        import plans

        plan = plans.interactive_plan(self.args.seed, self.raw)
        con = self.oracle()
        for i in plans.round_order(self.args.seed, "kg_interactive", len(plan), 0):
            op = plan[i]
            self.attempted += 1
            try:
                got = ops.build_read(store, op).toPandas()
                want = con.execute(plans.interactive_oracle(op)).df()
            except Exception as err:  # noqa: BLE001
                self.fail(op["name"], err)
                continue
            self.rows[op["name"]] = len(got)
            if not same_rows(got, want):
                self.fail(op["name"], f"rows differ from oracle ({len(got)} vs {len(want)}) for {op['params']}")
        log(f"checked {len(plan)} ops against the oracle")
        # one untimed round on the noop path: after the check pass the JIT
        # is still warming, and the first timed round ran about 20% slower
        # than the next, so a run's figure hung on how many rounds it got
        for i in plans.round_order(self.args.seed, "kg_interactive", len(plan), 0):
            ops.build_read(store, plan[i]).write.format("noop").mode("overwrite").save()
        t0 = time.perf_counter()
        for r in self.rounds(t0):
            for i in plans.round_order(self.args.seed, "kg_interactive", len(plan), r):
                op = plan[i]
                self.parse_probe(op["name"], plans.op_texts(op))
                self.timed_call(op["name"], lambda op=op: ops.build_read(store, op))
                self.phase_ops += 1
        self.phase_s = time.perf_counter() - t0

    def kg_write_churn(self, store) -> None:
        import ops
        import plans

        from cm_well_spark.model.compaction import compact, compact_deltas, reconciled_infotons, write_batch
        from cm_well_spark.model.lakehouse import lakehouse_dir

        spark, tr = store.spark, self.tracer
        out = lakehouse_dir(self.raw)
        delta_dir = os.path.join(out, "infotons_delta")
        cycles = plans.churn_plan(self.args.seed, self.raw)
        applied: list[dict] = []
        payload = delta_total = 0
        pending: list[int] = []
        t0 = time.perf_counter()
        for cycle in cycles:
            for batch in cycle:
                before = dir_bytes(delta_dir)
                self.attempted += 1
                try:
                    with tr.span("write_batch", "compaction.write_batch") as w:
                        write_batch(spark, out, ops.commands_frame(spark, batch))
                except Exception as err:  # noqa: BLE001
                    self.fail("write_batch", err)
                    continue
                self.write_lat.append(w["s"])
                self.phase_ops += 1
                applied.append(batch)
                payload += plans.payload_bytes(batch)
                delta_total += dir_bytes(delta_dir) - before
                pending.append(sum(1 for d in os.listdir(delta_dir) if d.startswith("batch=")))
                self.timed_call("churn_read_path", lambda b=batch: ops.churn_read_path(store, b["read_path"]))
                seg = batch["search_segment"]
                self.parse_probe("churn_search", {"qp": f"rdfType::Customer,mktsegment::{seg}"})
                self.timed_call("churn_search", lambda: ops.churn_search(store, seg))
                self.phase_ops += 2
            self.attempted += 1
            try:
                with tr.span("compact_deltas", "compaction.compact_deltas"):
                    compact_deltas(spark, out)
                self.phase_ops += 1
            except Exception as err:  # noqa: BLE001
                self.fail("compact_deltas", err)
            if time.perf_counter() - t0 >= self.args.seconds:
                break
        self.phase_s = time.perf_counter() - t0

        before_hash = self.check_writes(spark, reconciled_infotons(spark, out), applied)
        self.attempted += 1
        t_compact = time.time()
        try:
            with tr.span("compact", "compaction.compact") as c:
                res = compact(spark, out)
            self.compact_s = c["s"]
            self.layer["compaction.incremental_ratio"] = 1.0 if res.get("mode") == "incremental" else 0.0
            log(f"compact ({res.get('mode')}) {c['s']:.2f}s")
        except Exception as err:  # noqa: BLE001
            self.fail("compact", err)
        self.layer["compaction.bytes_rewritten"] = sum(
            os.path.getsize(os.path.join(r, f))
            for t in ("infotons", "triples")
            for r, _d, fs in os.walk(os.path.join(out, t))
            for f in fs
            if os.path.getmtime(os.path.join(r, f)) >= t_compact
        )
        after_hash = self.current_hash(spark.read.parquet(os.path.join(out, "infotons")))
        self.attempted += 1
        if before_hash != after_hash:
            self.fail("compact", "store after compact differs from the merge-on-read view before it")
        self.user_bytes += payload
        n_b = max(1, len(applied))
        self.layer["compaction.delta_bytes"] = delta_total / n_b
        self.layer["compaction.write_amp"] = delta_total / payload if payload else 0.0
        self.layer["compaction.pending_batches"] = statistics.mean(pending) if pending else 0.0

    @staticmethod
    def current_hash(inf) -> str:
        from pyspark.sql import functions as F

        rows = inf.where(F.col("current")).select("path", "uuid", "kind").collect()
        return hashlib.md5("\n".join(sorted(f"{r[0]}|{r[1]}|{r[2]}" for r in rows)).encode()).hexdigest()

    def check_writes(self, spark, inf, applied: list[dict]) -> str:
        """Write invariants over the merge-on-read view: one current
        version per path, and every affected path reads back its last
        write. Returns the hash of the current rows."""
        import plans
        from pyspark.sql import functions as F

        self.attempted += 1
        dup = inf.where(F.col("current")).groupBy("path").count().where(F.col("count") > 1).count()
        if dup:
            self.fail("one-current", f"{dup} paths with more than one current version")
        expect = plans.expected_effects(applied)
        rows = {
            r["path"]: r
            for r in inf.where(F.col("current") & F.col("path").isin(list(expect)))
            .select("path", "kind", F.col("fields")[plans.CHURN_NOTE].alias("note"), F.col("fields")["acctbal"].alias("bal"))
            .collect()
        }
        bad = 0
        for path, (what, value) in expect.items():
            r = rows.get(path)
            self.attempted += 1
            notes = {v["value"] for v in (r["note"] or [])} if r is not None else set()
            ok = r is not None and {
                "note": lambda: r["kind"] == "ObjectInfoton" and value in notes,
                "note+no_acctbal": lambda: value in notes and not r["bal"],
                "no_acctbal": lambda: r["kind"] == "ObjectInfoton" and not r["bal"],
                "deleted": lambda: r["kind"] == "DeletedInfoton",
            }[what]()
            if not ok:
                bad += 1
                self.fail("read-back", f"{path} expected {what} {value}, got {None if r is None else r.asDict()}")
        log(f"write invariants: {len(expect)} paths checked, {bad} wrong, {dup} duplicate-current")
        return self.current_hash(inf)


def run(args) -> dict:
    sys.path[1:1] = [ROOT, os.path.join(ROOT, "tools")]
    import host
    import plans

    run_dir = os.path.join(HERE, ".work", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    limit = host.memory_limit()
    env = host.configure(ROOT, run_dir, cached=args.workload == "kg_interactive")
    host0, cpu0 = host.snapshot(limit), host.cpu_times()
    log(f"host {json.dumps(host0)} env {json.dumps({k: env[k] for k in ('SPARK_GRAFT_CPUS', 'CMW_DRIVER_MEM', 'CMW_CACHE')})}")
    r = Run(args, run_dir)
    r.user_bytes = plans.raw_bytes(r.raw)
    spark = None
    try:
        t0 = time.perf_counter()
        from cm_well_spark.session import get_spark

        spark = get_spark("perfbench")
        from cm_well_spark.model.compaction import compact
        from cm_well_spark.model.lakehouse import materialize

        import ops
        from spans import Tracer

        session_s = time.perf_counter() - t0
        r.tracer = Tracer(spark, bool(args.trace))
        store = ops.Store(spark, r.raw, merge_on_read=args.workload == "kg_write_churn")
        with r.tracer.span("setup", "lakehouse.materialize") as m:
            out = materialize(spark, r.raw, force=True)
        first_compact_s = 0.0
        if args.workload == "kg_write_churn":
            # the stamped range-clustered layout a live store has after its
            # first major compaction: the run's final `compact` then goes
            # through the incremental fold before any full fallback
            t1 = time.perf_counter()
            compact(spark, out, mode="full")
            first_compact_s = time.perf_counter() - t1
        with r.tracer.span("setup", "lakehouse.warm"):
            store.inf().count()
            if not store.merge_on_read:  # churn reads only the doc view
                store.tri().count()
        setup_s = time.perf_counter() - t0
        store.reconcile_s.clear()
        store_bytes = dir_bytes(out)
        log(
            f"setup {setup_s:.2f}s (session {session_s:.2f}s, build {m['s']:.2f}s, "
            f"first compact {first_compact_s:.2f}s), store {store_bytes} bytes"
        )

        getattr(r, args.workload)(store)

        cached = r.tracer.probe.cached_bytes() if r.tracer.enabled else 0
        peak = host.peak_rss_mb(spark.sparkContext._gateway.proc.pid)
        final_store = dir_bytes(out)
    finally:
        if spark is not None:
            host.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    ops_per_s = r.phase_ops / r.phase_s if r.phase_s else 0.0
    read_tail = tail(r.read_lat)
    write_tail = tail(r.write_lat)
    metrics = {
        "setup_s": setup_s,
        "ops_per_s": ops_per_s,
        "peak_rss_mb": peak,
        "store_amp": final_store / r.user_bytes,
    }
    if args.trace:
        metrics = layer_metrics(r, store, m, store_bytes, cached, ops_per_s, read_tail, write_tail)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "tables": r.raw,
        "host_before": host0,
        "host_after": host.snapshot(limit),
        "steal_pct": host.steal_pct(cpu0, host.cpu_times()),
        "env": env,
        "read_p50_s": statistics.median(r.read_lat) if r.read_lat else 0.0,
        "read_tail": {"value": read_tail[0], "percentile": read_tail[1], "n": read_tail[2]},
        "write_tail": {"value": write_tail[0], "percentile": write_tail[1], "n": write_tail[2]},
        "write_latency": r.write_lat,
        "phase_ops": r.phase_ops,
        "phase_s": r.phase_s,
        "result_rows": r.rows,
        "latency_by_template": r.by_template,
        "metrics": metrics,
        "spans": r.tracer.spans if args.trace else [],
    }
    rec_dir = os.path.join(HERE, ".work", "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    log(
        f"host after {json.dumps(record['host_after'])} steal {record['steal_pct']:.1f}% "
        f"read tail p{read_tail[1]:.0f} of {read_tail[2]}, write tail p{write_tail[1]:.0f} of {write_tail[2]}"
    )
    units = PER_LAYER if args.trace else END_TO_END
    return {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def layer_metrics(r: Run, store, m: dict, store_bytes: int, cached: int, ops_per_s: float, read_tail, write_tail) -> dict:
    tr = r.tracer
    calls = [s for s in tr.spans if s["layer"] == "exec.exec"]
    n = max(1, len(calls))

    def per_call(layer: str, key: str = "s") -> float:
        return tr.total(layer, key) / n

    heaviest = max(calls, key=lambda s: s.get("executor_run_s", 0.0), default={})
    writes = [s for s in tr.spans if s["layer"] == "compaction.write_batch"]
    minors = [s for s in tr.spans if s["layer"] == "compaction.compact_deltas"]
    out = {
        "lakehouse.materialize_s": m["s"],
        "lakehouse.materialize_shuffle_write_bytes": m.get("shuffle_write_bytes", 0),
        "lakehouse.store_bytes": store_bytes,
        "lakehouse.warm_s": tr.total("lakehouse.warm"),
        "lakehouse.cached_bytes": cached,
        "lakehouse.stats_served_ratio": store.stats_served / store.stats_calls if store.stats_calls else 0.0,
        "parsers.parse_s": tr.total("parsers.parse") / max(1, tr.count("parsers.parse")),
        "operators.build_s": per_call("operators.build"),
        "operators.build_jobs": per_call("operators.build", "jobs"),
        "exec.plan_s": per_call("exec.plan"),
        "exec.exec_s": per_call("exec.exec"),
        "exec.count_s": per_call("exec.count"),
        "exec.task_skew": heaviest.get("task_skew", 0.0),
        "exec.result_rows": per_call("exec.count", "rows"),
        "exec.leaked_persisted": tr.total("exec.exec", "leaked"),
        "compaction.write_batch_s": statistics.mean(s["s"] for s in writes) if writes else 0.0,
        "compaction.write_batch_jobs": statistics.mean(s["jobs"] for s in writes) if writes else 0.0,
        "compaction.reconcile_s": statistics.mean(store.reconcile_s) if store.reconcile_s else 0.0,
        "compaction.compact_deltas_s": statistics.mean(s["s"] for s in minors) if minors else 0.0,
        "read_p50_s": statistics.median(r.read_lat) if r.read_lat else 0.0,
        "read_tail_s": read_tail[0],
        "write_p50_s": statistics.median(r.write_lat) if r.write_lat else 0.0,
        "write_tail_s": write_tail[0],
        "compact_s": r.compact_s,
        "failed_ratio": r.failed / max(1, r.attempted),
        "trace.ops_per_s": ops_per_s,
    }
    for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "input_bytes",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        out[f"exec.{k}"] = per_call("exec.exec", k)
    for k in ("compaction.delta_bytes", "compaction.write_amp", "compaction.pending_batches",
              "compaction.bytes_rewritten", "compaction.incremental_ratio"):
        out[k] = r.layer.get(k, 0.0)
    return out


def main(argv: list[str] | None = None) -> int:
    import plans

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=plans.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "cm_well_spark", "__init__.py")):
        print(f"cm_well_spark not found next to {HERE}: run from a full checkout", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
