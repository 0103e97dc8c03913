from __future__ import annotations

import contextlib
import os
import sys
import uuid
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from fhir_to_lakehouse_spark.session import get_spark  # noqa: E402

# Single source of truth for the test dataset — every test module must
# take the `sf_dir` fixture (or read this constant) instead of
# hardcoding the path, so redirecting the env var redirects the whole
# suite consistently.
TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # Tests run sf0.001-scale data where per-stage task-launch overhead
    # dominates: the full suite measured 36:57 on local[32] vs 29:35 on
    # local[8], all green both ways (r13 durations study; AQE stays ON —
    # its partition coalescing is what keeps tiny shuffles at 1 task,
    # measured 94 s -> 137 s on test_graph with it off). Pin the low
    # core count (override with SPARK_GRAFT_TEST_CPUS); production
    # sizing is the session default, untouched.
    cpus = int(
        os.environ.get("SPARK_GRAFT_TEST_CPUS")
        or min(8, os.cpu_count() or 8)
    )
    s = get_spark("tests", master=f"local[{cpus}]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return TEST_SF_DIR


@contextlib.contextmanager
def jobs_in(spark):
    """Count the Spark jobs a block runs: yields a list that holds, once
    the block exits, the ids of the jobs started under a job group set
    for the block. Threads started with ``inheritable_thread_target``
    (the pipeline's type pool) carry the group into their jobs."""
    sc = spark.sparkContext
    group = f"jobs-in-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "counted block")
    jobs: list[int] = []
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))
