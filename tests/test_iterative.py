"""plans/iterative: what a lazy checkpoint runs when it is taken."""

from __future__ import annotations

from pyspark.sql import functions as F

from cm_well_spark.plans import iterative


def _jobs_fired(spark, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup("iterative_lazy_test", "lazy checkpoint")
    try:
        fn()
        return len(sc.statusTracker().getJobIdsForGroup("iterative_lazy_test"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_lazy_checkpoint_runs_exchange_stages_when_taken(spark, monkeypatch):
    """localCheckpoint(eager=False) builds the plan's RDD at call time,
    and under AQE that runs every shuffle stage at once: only a narrow
    plan is truly lazy."""
    monkeypatch.setattr(iterative, "RELIABLE_CHECKPOINTS", False)
    ids = spark.range(1000)
    narrow = ids.where(F.col("id") % 3 == 0).select((F.col("id") * 2).alias("x"))
    shuffled = ids.groupBy((F.col("id") % 7).alias("k")).count()
    assert _jobs_fired(spark, lambda: iterative.iter_checkpoint_lazy(narrow)) == 0
    assert _jobs_fired(spark, lambda: iterative.iter_checkpoint_lazy(shuffled)) >= 1
