"""``dtutil.materialize`` computes a frame once: an eager request at the
call, a lazy one in its first reader, and later readers read the stored
blocks."""

import pytest
from pyspark.sql import functions as F


@pytest.mark.parametrize("eager", [True, False])
def test_materialize_runs_the_plan_once(spark, eager):
    from tech_ml_dataset_spark import dtutil

    calls = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def plus_one(x):
        calls.add(1)
        return x + 1

    base = spark.range(0, 400, numPartitions=4)
    stored = dtutil.materialize(base.select(plus_one("id").alias("v")),
                                eager=eager)
    assert calls.value == (400 if eager else 0)
    assert sorted(r.v for r in stored.collect()) == list(range(1, 401))
    assert stored.agg(F.sum("v")).first()[0] == 400 * 401 // 2
    assert calls.value == 400
