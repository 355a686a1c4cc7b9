from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
if str(REPO_ROOT) not in sys.path:
    sys.path.insert(0, str(REPO_ROOT))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    import os

    from data_engineer_challenge_spark.session import get_spark

    # One session for the whole suite, at most 10 task slots
    # (compute-bound tests: PQ/IVF kernels, provenance trainers, oracle
    # replays) and never more than the machine's cores: on a 4-core
    # machine, local[10] ran ten Python workers on four cores, and four
    # PQ/IVF/plan tests took 366 s against 311 s at local[4].
    # SPARK_GRAFT_TEST_CPUS overrides it.
    cpus = int(
        os.environ.get("SPARK_GRAFT_TEST_CPUS")
        or min(10, len(os.sched_getaffinity(0)))
    )
    spark = get_spark(
        app_name="tests",
        master=f"local[{cpus}]",
        shuffle_partitions=min(cpus, 8),
    )
    yield spark
