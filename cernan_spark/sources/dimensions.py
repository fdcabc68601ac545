"""Config dimension tables: routes, tag dictionaries, histogram masks.

These stand in for cernan's TOML-configured topology:

* routes    — the forwards DAG (reference src/matrix.rs:13-124 + the
              per-sink config blocks in examples/configs/basic.toml);
* tag_dicts — per-sink/per-scope default tags overlaid at the edge
              (TagIter, reference src/metric/mod.rs:43-85);
* histogram_masks — statsd timer/histogram regex→bounds rules
              (reference src/config.rs:908-941, src/source/statsd.rs:36-47).

All three are tiny config, so each is a literal relation held in the JVM
(:func:`local_table`): a ``createDataFrame`` frame would plan as a scan of a
pickled Python RDD, and every action that re-broadcasts it would start
Python workers to read a few constant rows.
"""

from __future__ import annotations

from typing import Any, Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StructType,
    _parse_datatype_string,
)

ROUTE_SCHEMA = "rule_id string, match_kind string, name_mask string, sink string, priority int"

#: Default routing topology: telemetry fans out to wavefront+prometheus+
#: console, purchase/error series additionally to influxdb; logs go to
#: elasticsearch + kafka; unmatched events are dropped-with-count.
DEFAULT_ROUTES = [
    ("r_console", "telemetry", ".*", "console", 100),
    ("r_wavefront", "telemetry", ".*", "wavefront", 100),
    ("r_prometheus", "telemetry", ".*", "prometheus", 100),
    ("r_influx_purchase", "telemetry", "^purchase.*", "influxdb", 10),
    ("r_influx_errors", "telemetry", "^errors$", "influxdb", 10),
    ("r_es_logs", "log", ".*", "elasticsearch", 100),
    ("r_kafka_logs", "log", ".*", "kafka", 100),
    ("r_null_raw", "raw", ".*", "null", 100),
]

TAG_DICT_SCHEMA = "scope string, key string, tag_key string, tag_value string"

#: Enrichment defaults. Overlay precedence: event tags win over defaults
#: (reference TagIter::Double, src/metric/mod.rs:43-85).
DEFAULT_TAG_DICTS = [
    ("global", "*", "source", "cernan_spark"),
    ("global", "*", "env", "test"),
    ("role", "user", "origin", "human"),
    ("role", "assistant", "origin", "model"),
    ("role", "system", "origin", "config"),
    ("role", "tool", "origin", "tool"),
    ("tool", "bash", "tool_class", "shell"),
    ("tool", "read", "tool_class", "fs"),
    ("tool", "write", "tool_class", "fs"),
    ("tool", "grep", "tool_class", "search"),
    ("tool", "search", "tool_class", "search"),
]

MASK_SCHEMA = "mask string, bounds array<double>, priority int"

#: Timer/histogram names matching a mask become Histogram with these bounds;
#: otherwise Summarize (reference default bounds [1,10,100,1000],
#: src/metric/telemetry.rs:429-438).
DEFAULT_HISTOGRAM_MASKS = [
    ("^hist\\.", [1.0, 10.0, 100.0, 1000.0], 1),
    ("^errors$", [1.0, 10.0, 100.0, 1000.0], 2),
]


def _literal(value: Any, dtype: DataType) -> Column:
    """``value`` as a literal column; the caller's cast fixes its type."""
    if value is None:
        return F.lit(None).cast(dtype)
    if isinstance(dtype, ArrayType):
        return F.array(*[_literal(v, dtype.elementType) for v in value])
    if isinstance(dtype, MapType):
        return F.map_from_arrays(
            F.array(*[_literal(k, dtype.keyType) for k in value]),
            F.array(*[_literal(v, dtype.valueType) for v in value.values()]),
        )
    if isinstance(dtype, StructType):
        by_name = isinstance(value, dict) or hasattr(value, "__fields__")
        values = [value[f.name] for f in dtype.fields] if by_name else value
        return F.struct(
            *[_literal(v, f.dataType).alias(f.name) for v, f in zip(values, dtype.fields)]
        )
    return F.lit(value)


def local_table(
    spark: SparkSession, rows: Iterable, schema: StructType | str
) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` as a relation held in the JVM:
    the same schema (nullability included) and rows, built by inlining one
    literal array of structs over a one-row range — no Python RDD under it,
    so no Python worker runs when an action reads or broadcasts it."""
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    rows = F.array(*[_literal(r, schema) for r in rows])
    return spark.range(0, 1, 1, 1).select(
        F.inline(rows.cast(ArrayType(schema, containsNull=False)))
    )


def default_routes(spark: SparkSession) -> DataFrame:
    return local_table(spark, DEFAULT_ROUTES, ROUTE_SCHEMA)


def default_tag_dicts(spark: SparkSession) -> DataFrame:
    return local_table(spark, DEFAULT_TAG_DICTS, TAG_DICT_SCHEMA)


def default_histogram_masks(spark: SparkSession) -> DataFrame:
    return local_table(spark, DEFAULT_HISTOGRAM_MASKS, MASK_SCHEMA)
