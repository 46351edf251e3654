import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tech_ml_dataset_spark import get_spark

# r8 (r7 verdict #9): a high-budget Hypothesis profile for the codec
# property suites — they guard the components with the largest
# silent-failure surface (the 1/256 pdf 0x0D-tail class needed ~256
# examples to sample; the default 60-example budget missed it for a
# round). Run once per round:
#   python -m pytest tests/test_properties.py -q --hypothesis-profile=thorough
from hypothesis import settings as _hyp_settings

_hyp_settings.register_profile("thorough", max_examples=1000,
                               deadline=None)


@pytest.fixture(scope="session")
def spark():
    # r12 (r11 verdict #6: the external verify's pytest run must finish
    # inside its time budget): the suite is SCHEDULING-bound, not
    # compute-bound (24 min wall, ~2 min CPU at local[32]) — fixtures are
    # a few hundred rows, but ensure_parallelism fans every stage to
    # defaultParallelism tasks, so 32 cores means 32 near-empty tasks per
    # stage, each paying dispatch latency. Pin the TEST session to 8
    # cores (overridable via SPARK_GRAFT_TEST_CPUS); bench.py and the
    # driver contract keep their own core-count envs untouched.
    cpus = int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8"))
    s = get_spark("tests", master=f"local[{cpus}]", shuffle_partitions=8,
                  extra_conf={"spark.driver.memory": "8g"})
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn)`` -> ``(fn(), number of Spark jobs fn launched)``,
    counted by a job group of its own once the listener bus has drained."""
    import uuid

    sc = spark.sparkContext

    def count(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return count
