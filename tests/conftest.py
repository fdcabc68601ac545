from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cernan_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="cernan_spark_tests", cpus=8, shuffle_partitions=8)
    yield s


def rows_to_tuples(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())
