"""``local_table``: the JVM-held stand-in for ``spark.createDataFrame`` on
tiny config tables — same schema (nullability included), same rows, no
Python RDD under it."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from cernan_spark.sources.dimensions import (
    DEFAULT_HISTOGRAM_MASKS,
    DEFAULT_ROUTES,
    DEFAULT_TAG_DICTS,
    MASK_SCHEMA,
    ROUTE_SCHEMA,
    TAG_DICT_SCHEMA,
    local_table,
)


def _rows(df):
    return sorted(df.collect(), key=repr)


def _assert_same_as_create(spark, rows, schema):
    got = local_table(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)
    assert "ExistingRDD" not in got._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "rows, schema",
    [
        (DEFAULT_ROUTES, ROUTE_SCHEMA),
        (DEFAULT_TAG_DICTS, TAG_DICT_SCHEMA),
        (DEFAULT_HISTOGRAM_MASKS, MASK_SCHEMA),
    ],
    ids=["routes", "tag_dicts", "histogram_masks"],
)
def test_default_tables_match_create_dataframe(spark, rows, schema):
    _assert_same_as_create(spark, rows, schema)


def test_empty_rows(spark):
    _assert_same_as_create(spark, [], ROUTE_SCHEMA)


def test_null_cells_maps_and_double_arrays(spark):
    schema = "id int, note string, tags map<string,string>, bounds array<double>"
    rows = [
        (1, None, {"a": "x", "b": None}, [1.0, 2.5]),
        (2, "n", {}, []),
        (3, "m", None, None),
    ]
    _assert_same_as_create(spark, rows, schema)


def test_struct_type_schema_keeps_nullability(spark):
    schema = T.StructType([
        T.StructField("name", T.StringType(), nullable=False),
        T.StructField("value", T.DoubleType(), nullable=True),
        T.StructField("n", T.LongType(), nullable=False),
    ])
    _assert_same_as_create(spark, [("a", 1.0, 3), ("b", None, 4)], schema)


def test_enrich_fast_keeps_output_schema(spark):
    from cernan_spark.operators.enrich import enrich_tags_fast
    from cernan_spark.sources.dimensions import default_tag_dicts

    df = spark.createDataFrame(
        [("user", "bash"), ("martian", None)], "role string, tool string"
    )
    out = enrich_tags_fast(df, default_tag_dicts(spark))
    assert out.schema == T.StructType([
        T.StructField("role", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), nullable=False),
        T.StructField("tags_key", T.StringType(), nullable=False),
    ])
    got = {r["role"]: r["tags_key"] for r in out.collect()}
    assert got == {
        "user": "env=test,origin=human,source=cernan_spark,tool_class=shell",
        "martian": "env=test,source=cernan_spark",
    }
