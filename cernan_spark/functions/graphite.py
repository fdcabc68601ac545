"""Graphite line parsing: whitespace-separated ``name value ts`` triples.

Reference /root/reference/src/protocols/graphite.rs:9-47 — every triple
becomes a Telemetry with kind Set and the explicit epoch-second timestamp;
non-numeric value or timestamp invalidates the line.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_NUM = r"[+-]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?"
#: name = any non-whitespace (may contain @ % - etc.), then value, then int ts
GRAPHITE_LINE_RX = rf"^(\S+)\s+({_NUM})\s+([+-]?\d+)$"


def graphite_name(line: Column) -> Column:
    """The line's name (the first regex group): '' exactly when the line
    is not a graphite triple, since a match's name is never empty."""
    return F.regexp_extract(line, GRAPHITE_LINE_RX, 1)


def graphite_columns(line: Column, name: Column) -> dict[str, Column]:
    """(name, value, kind, persist, event_epoch, is_valid) of a graphite
    line whose :func:`graphite_name` is ``name``; value and timestamp are
    extracted only from lines that match."""
    valid = name != F.lit("")
    val = F.regexp_extract(line, GRAPHITE_LINE_RX, 2)
    ets = F.regexp_extract(line, GRAPHITE_LINE_RX, 3)
    return {
        "name": F.when(valid, name),
        "value": F.when(valid, val.cast("double")),
        "kind": F.when(valid, F.lit("SET")),
        "persist": F.when(valid, F.lit(False)),
        "event_epoch": F.when(valid, ets.cast("long")),
        "is_valid": valid,
    }


def parse_graphite_lines(
    df: DataFrame, line_col: str = "line", keep_invalid: bool = False
) -> DataFrame:
    """Parse graphite triples; overrides the row timestamp with the wire one."""
    line = F.col(line_col)
    cols = graphite_columns(line, graphite_name(line))
    out = df.select("*", *[c.alias(k) for k, c in cols.items()])
    if not keep_invalid:
        out = out.filter(F.col("is_valid"))
    return out
