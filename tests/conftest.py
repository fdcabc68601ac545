from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cernan_spark.session import get_spark


def _half_host_memory() -> str:
    """Half of the host's physical memory, as a JVM heap size: the session
    default (64g) lets the heap outgrow a small host before it collects."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{total // 2 // 2**20}m"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="cernan_spark_tests", cpus=8, shuffle_partitions=8,
        extra_conf={"spark.driver.memory": _half_host_memory()},
    )
    yield s


def rows_to_tuples(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())
