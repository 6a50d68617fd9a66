"""plans/iterative: what a lazy checkpoint runs when it is taken."""

from __future__ import annotations

from conftest import jobs_in
from pyspark.sql import functions as F

from cm_well_spark.plans import iterative


def test_lazy_checkpoint_runs_exchange_stages_when_taken(spark, monkeypatch):
    """localCheckpoint(eager=False) builds the plan's RDD at call time,
    and under AQE that runs every shuffle stage at once: only a narrow
    plan is truly lazy."""
    monkeypatch.setattr(iterative, "RELIABLE_CHECKPOINTS", False)
    ids = spark.range(1000)
    narrow = ids.where(F.col("id") % 3 == 0).select((F.col("id") * 2).alias("x"))
    shuffled = ids.groupBy((F.col("id") % 7).alias("k")).count()
    assert len(jobs_in(spark, lambda: iterative.iter_checkpoint_lazy(narrow))[1]) == 0
    assert len(jobs_in(spark, lambda: iterative.iter_checkpoint_lazy(shuffled))[1]) >= 1
