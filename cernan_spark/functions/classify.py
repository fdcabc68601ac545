"""Line explosion + wire-format classification.

Cernan knows the wire format per source socket (statsd vs graphite vs log
tail); the transcripts table multiplexes them into one ``text`` column, so
we classify each line declaratively. Multi-line packets (statsd allows
newline-separated metrics in one datagram, statsd.rs:20-28) are exploded
with a stable intra-turn position.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cernan_spark.functions.graphite import GRAPHITE_LINE_RX

CLASS_STATSD = "statsd"
CLASS_GRAPHITE = "graphite"
CLASS_JSON = "json"
CLASS_LOG = "log"
CLASS_BAD = "bad"


def explode_lines(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One row per newline-separated line; adds (line, line_pos).

    ``order_key`` (if present) is refined to ``order_key*4096 + line_pos`` so
    intra-packet order stays total (cernan preserves packet order of
    receipt).
    """
    out = df.select(
        "*", F.posexplode(F.split(F.col(text_col), "\n")).alias("line_pos", "line")
    )
    if "order_key" in df.columns:
        out = out.withColumn(
            "order_key", F.col("order_key") * 4096 + F.col("line_pos")
        )
    return out


def line_class(line: Column, statsd_valid: Column) -> Column:
    """Classify one line: statsd | graphite | json | log | bad.

    Order matters: statsd, then graphite, then JSON-object candidate, then
    prose → log. Telemetry-shaped lines that fail their grammar (contain
    ``|`` or ``:`` / empty / single bare token) are ``bad`` — counted,
    never shipped (mirrors parse_statsd's false return, statsd.rs:553-573).

    ``statsd_valid`` is the statsd parse's ``is_valid`` column, so the line
    is scanned once: parse first, then classify from its validity.
    JSON candidacy is a '{' prefix — actual parse validity is settled on
    the log path by from_json (invalid objects ship as-is, matching
    json_encode_filter.rs:85-120).
    """
    return (
        F.when(statsd_valid, F.lit(CLASS_STATSD))
        .when(line.rlike(GRAPHITE_LINE_RX), F.lit(CLASS_GRAPHITE))
        .when(line.startswith("{"), F.lit(CLASS_JSON))
        .when(
            (line == "")
            | line.contains("|")
            | (line.contains(":") & ~line.contains(" "))
            | ~line.contains(" "),
            F.lit(CLASS_BAD),
        )
        .otherwise(F.lit(CLASS_LOG))
    )


#: statsd kinds the DLQ validator accepts (statsd.rs:22-163 grammar)
DLQ_KINDS = ("c", "g", "ms", "h")

#: value grammar — shared verbatim with the oracle (Java∩RE2 subset)
DLQ_VALUE_RX = r"^[+-]?\d+(\.\d+)?$"


def dlq_reason(line: Column) -> Column:
    """Typed dead-letter reason for a statsd-shaped line — the routing
    key of a DLQ sink. The reference counts parse failures in one bucket
    (statsd.rs bad-line accounting); a DLQ needs the failure TAXONOMY so
    replays can target one defect class. Reasons are evaluated in
    grammar order (outermost structure first): empty → no_pipe →
    no_colon → empty_name → bad_value → bad_kind → ok. Pure column
    expressions; OOB list access uses NULL-returning get (ANSI-safe)."""
    parts = F.split(line, r"\|")
    head = F.get(parts, 0)
    kind = F.get(parts, 1)
    nv = F.split(head, ":")
    name = F.get(nv, 0)
    value = F.get(nv, 1)
    return (
        F.when(F.length(F.trim(line)) == 0, "empty")
        .when(kind.isNull(), "no_pipe")
        .when(value.isNull(), "no_colon")
        .when(name == "", "empty_name")
        .when(~value.rlike(DLQ_VALUE_RX), "bad_value")
        .when(~kind.isin(*DLQ_KINDS), "bad_kind")
        .otherwise("ok")
    )
