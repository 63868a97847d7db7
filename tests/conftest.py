from __future__ import annotations

import os

import pytest

from baronbatch_etl_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # get_spark's default driver heap (90g) lets the suite's one JVM
    # grow past the physical memory of a small host, where the kernel
    # then kills it mid-run; the sf0.001 fixtures need a few GiB at most
    extra = (
        None
        if "SPARK_GRAFT_DRIVER_MEM" in os.environ
        else {"spark.driver.memory": "4g"}
    )
    s = get_spark("tests", shuffle_partitions=8, extra_conf=extra)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE
