"""Vectorized parsers + scalar function surface.

Everything cernan does with strings/time/JSON (reference SURVEY.md §2.8)
maps to built-in `pyspark.sql.functions`: each wire format and the grok
templates (``groklib``) parse as JVM column expressions, with no Python UDF.
"""

from cernan_spark.functions.statsd import parse_statsd_lines
from cernan_spark.functions.graphite import parse_graphite_lines
from cernan_spark.functions.jsonlog import parse_json_logs
from cernan_spark.functions.classify import explode_lines

__all__ = [
    "parse_statsd_lines",
    "parse_graphite_lines",
    "parse_json_logs",
    "explode_lines",
]
