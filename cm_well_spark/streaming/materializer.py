"""SPARQL-triggered materialized views (T7) — the flagship stateful
streaming capability.

Reference: SparqlTriggeredProcessor + SparqlProcessorManager
(cmwell-data-tools .../sparql/SparqlTriggeredProcessor.scala:30-59,95+;
cmwell-sparql-agent .../SparqlProcessorManager.scala): an agent consumes
per-"sensor" change feeds, detects changed subjects, re-runs a stored
SPARQL materializer over them, and writes derived infotons back.

Spark-first shape: ONE streaming query with foreachBatch doing
SEMI-NAIVE incremental view maintenance:

  micro-batch of changed infotons (counted, so keyset.restrict routes it)
    -> Δ-solutions: the BGP evaluated once per pattern with THAT pattern's
       frame restricted to triples of changed docs (a changed doc only
       changes triples whose SUBJECT is its path, so this is a sound delta)
    -> affected derived-subject set A = Δ-solution subjects
       ∪ provenance(src ∈ changed) ∪ changed
    -> recompute solutions for A only (the pattern binding the template
       subject is seeded with A — a semi join, not a full scan)
    -> delete derived rows with subject ∈ A, append the recomputed rows
       (retraction falls out: a subject whose solutions vanished gets
       deletes and no re-inserts).

A provenance table (derived subject, source doc path) — populated from the
path-valued variable bindings of each solution — makes retraction and
object-side dependencies exact: any doc bound anywhere in an old solution
pulls that solution's subject into A when it changes. No full-base shuffle,
no driver-side subject lists; the only non-incremental fallback is a query
form the delta planner doesn't cover (OPTIONAL/UNION), which recomputes
the view wholesale per batch and is documented as such.

Writes are atomic via versioned directories + a _VERSION pointer file:
readers resolve the pointer, a crash mid-write leaves the old version live
(ADVICE r1: the overwrite-in-place two-step lost the table on crash).
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cm_well_spark.model.atomic import resolve_version as _resolve_version
from cm_well_spark.model.atomic import write_versioned
from cm_well_spark.model.lakehouse import triples_of
from cm_well_spark.operators.sparql import sparql_query
from cm_well_spark.operators.sparql.compiler import (
    _est_cost,
    _filter_col,
    _join,
    _pattern_df,
)
from cm_well_spark.operators.sparql.parser import Var, parse_sparql
from cm_well_spark.plans.iterative import iter_checkpoint_count
from cm_well_spark.plans.keyset import export_path_bound, restrict


class SparqlTriggeredProcessor:
    """Materializes a CONSTRUCT query incrementally over a change feed.

    base_triples: the full triples table (for joins that reach beyond the
    changed subjects). derived_dir: versioned parquet root holding the
    materialized triples + provenance, swapped per batch."""

    def __init__(
        self,
        spark: SparkSession,
        base_triples: DataFrame,
        construct_sparql: str,
        derived_dir: str,
    ):
        self.spark = spark
        self.base_triples = base_triples
        self.query = parse_sparql(construct_sparql)
        if self.query.form != "construct":
            raise ValueError("materializer requires a CONSTRUCT query")
        self.construct_sparql = construct_sparql
        self.derived_dir = derived_dir
        g = self.query.where
        # delta planning covers plain BGP(+FILTER) groups; OPTIONAL/UNION
        # fall back to full per-batch recompute (reference STP re-runs the
        # whole query per sensor anyway — SparqlTriggeredProcessor.scala:95+)
        self.incremental = not g.unions and not g.optionals and bool(g.triples)
        subj = self.query.template[0].s if self.query.template else None
        self.subj_var = subj.name if isinstance(subj, Var) else None

    # ---- BGP evaluation with one seeded frame --------------------------

    def _bgp(self, scope: DataFrame, seeded_idx: int | None, seed: DataFrame | None) -> DataFrame:
        """Evaluate the (plain) BGP over `scope`; if `seeded_idx` is given,
        that pattern's frame is built from scope restricted to `seed`
        subjects (keyset.restrict) and joined FIRST, so every later join
        starts from the small side."""
        g = self.query.where
        order = sorted(range(len(g.triples)), key=lambda i: _est_cost(g.triples[i], None))
        if seeded_idx is not None:
            order = [seeded_idx] + [i for i in order if i != seeded_idx]
        frames = {}
        for i in order:
            src = scope
            if seeded_idx is not None and i == seeded_idx and seed is not None:
                src = restrict(scope, "s", seed)
            frames[i] = _pattern_df(src, g.triples[i], i)[0]
        df = reduce(_join, [frames[i] for i in order])
        for flt in g.filters:
            df = df.where(_filter_col(flt, df))
        return df

    def _delta_solutions(self, scope: DataFrame, changed: DataFrame) -> DataFrame:
        """Solutions involving ≥1 triple of a changed doc: union over
        patterns of the BGP with that one pattern seeded by `changed`."""
        g = self.query.where
        parts = [self._bgp(scope, i, changed) for i in range(len(g.triples))]
        return reduce(lambda a, b: a.unionByName(b), parts).distinct()

    def _template_rows(self, sols: DataFrame) -> DataFrame:
        parts = []
        for tp in self.query.template:
            def col_of(term):
                if isinstance(term, Var):
                    return F.col(term.name).cast("string")
                from cm_well_spark.operators.sparql.compiler import _term_str

                return F.lit(_term_str(term))

            parts.append(
                sols.select(col_of(tp.s).alias("s"), col_of(tp.p).alias("p"), col_of(tp.o).alias("o"))
            )
        return reduce(lambda a, b: a.unionByName(b), parts).distinct()

    def _provenance(self, sols: DataFrame) -> DataFrame:
        """(derived subject, source doc path) edges: every path-valued
        variable binding of a solution is a source dependency."""
        vars_ = [c for c in sols.columns if not c.startswith("__")]
        srcs = F.array_distinct(
            F.filter(
                F.array(*[F.col(v).cast("string") for v in vars_]),
                lambda v: v.startswith("/"),
            )
        )
        return (
            sols.select(F.col(self.subj_var).cast("string").alias("s"), F.explode(srcs).alias("src"))
            .distinct()
        )

    # ---- batch body ----------------------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int = 0) -> DataFrame:
        """foreachBatch body: incremental recompute for affected subjects
        (see module docstring); returns the freshly derived rows."""
        # the checkpoint's own job counts the key sets; their counts are
        # exported as bounds, so keyset.restrict adds no job of its own
        changed = export_path_bound(*iter_checkpoint_count(batch_df.select("path").distinct()))
        batch_triples = triples_of(batch_df).select(*self.base_triples.columns)
        # live scope: changed docs' triples come from the batch; their OLD
        # rows in base are masked by an anti join (no global dedup)
        scope = restrict(self.base_triples, "s", changed, anti=True).unionByName(batch_triples)

        if not (self.incremental and self.subj_var):
            derived = sparql_query(scope, self.construct_sparql, limit_cap=None)
            self._write(derived, None, full=True, batch_id=batch_id)
            return derived

        delta = self._delta_solutions(scope, changed)
        new_subjects = delta.select(F.col(self.subj_var).cast("string").alias("path")).distinct()
        live = _resolve_version(self.derived_dir)
        affected = changed.unionByName(new_subjects)
        if live is not None:
            prov = self.spark.read.parquet(os.path.join(live, "provenance"))
            old_affected = restrict(prov, "src", changed).select(F.col("s").alias("path"))
            affected = affected.unionByName(old_affected)
        affected = export_path_bound(*iter_checkpoint_count(affected.distinct()))

        # recompute solutions ONLY for affected subjects: seed the pattern
        # binding the template subject with the affected set
        g = self.query.where
        subj_idx = next(
            (i for i, tp in enumerate(g.triples) if isinstance(tp.s, Var) and tp.s.name == self.subj_var),
            None,
        )
        if subj_idx is None:
            # template subject never appears as a pattern subject: recompute
            # solutions then mask (still no full-base shuffle — the BGP is
            # the query's own cost)
            sols = restrict(self._bgp(scope, None, None), self.subj_var, affected)
        else:
            sols = self._bgp(scope, subj_idx, affected)
        fresh = self._template_rows(sols)
        fresh_prov = self._provenance(sols)
        self._write(fresh, fresh_prov, full=False, batch_id=batch_id, affected=affected)
        return fresh

    # ---- versioned storage ---------------------------------------------

    def _write(
        self,
        derived: DataFrame,
        prov: DataFrame | None,
        full: bool,
        batch_id: int,
        affected: DataFrame | None = None,
    ) -> None:
        live = _resolve_version(self.derived_dir)
        if full or live is None:
            out, out_prov = derived, prov
        else:
            old = self.spark.read.parquet(os.path.join(live, "triples"))
            out = restrict(old, "s", affected, anti=True).unionByName(derived)
            old_prov = self.spark.read.parquet(os.path.join(live, "provenance"))
            out_prov = restrict(old_prov, "s", affected, anti=True).unionByName(prov)
        tables = {"triples": out}
        if out_prov is not None:
            tables["provenance"] = out_prov
        write_versioned(self.derived_dir, tables)

    def start(self, feed: DataFrame, checkpoint_dir: str, trigger_available_now: bool = True):
        """Attach to a streaming feed of infoton rows."""
        writer = feed.writeStream.foreachBatch(self.process_batch).option(
            "checkpointLocation", checkpoint_dir
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def read_derived(self) -> DataFrame:
        live = _resolve_version(self.derived_dir)
        if live is None:
            raise FileNotFoundError(f"no materialized version under {self.derived_dir}")
        return self.spark.read.parquet(os.path.join(live, "triples"))
