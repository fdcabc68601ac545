"""Pure-Python reference model of the parse + bucket semantics.

Plays the role of the reference's quickcheck in-test models
(/root/reference/src/buckets.rs:387-455 builds a naive model and asserts
Buckets equivalence; src/protocols/statsd.rs:302-356 round-trips parses).
Tests compare the Spark operators against this model on seeded corpora.
"""

from __future__ import annotations

import math
from dataclasses import dataclass


@dataclass
class ParsedMetric:
    name: str
    value: float
    kind: str  # SUM | SET | SUMMARIZE | HISTOGRAM
    persist: bool
    event_epoch: int | None = None


def _to_float(s: str) -> float | None:
    try:
        return float(s)
    except ValueError:
        return None


def parse_statsd_py(line: str) -> ParsedMetric | None:
    """Line-for-line port of the reference grammar semantics
    (src/protocols/statsd.rs:22-163) — used only as a test oracle."""
    colon = line.find(":")
    if colon <= 0:
        return None
    name = line[:colon]
    rest = line[colon + 1 :]
    pipe = rest.find("|")
    if pipe < 0:
        return None
    val_str = rest[:pipe]
    val = _to_float(val_str)
    if val is None or val_str == "":
        return None
    signed = val_str[0] in "+-"
    ty_rest = rest[pipe + 1 :]
    if not ty_rest:
        return None
    at = ty_rest.find("@")
    if at >= 0:
        ty = ty_rest[:at].rstrip("|")
        rate = _to_float(ty_rest[at + 1 :])
        if rate is None:
            return None
    else:
        ty = ty_rest
        rate = None
    if ty not in ("c", "g", "ms", "h"):
        return None
    if rate is not None:
        # f64 arithmetic in the reference: a rate of 0 scales by +inf
        val = val * (1.0 / rate if rate else math.inf)
    if ty == "c":
        return ParsedMetric(name, val, "SUM", False)
    if ty == "g":
        return ParsedMetric(name, val, "SUM" if signed else "SET", True)
    return ParsedMetric(name, val, "SUMMARIZE", False)


def parse_graphite_py(line: str) -> ParsedMetric | None:
    parts = line.split()
    if len(parts) != 3:
        return None
    val = _to_float(parts[1])
    try:
        epoch = int(parts[2])
    except ValueError:
        return None
    if val is None:
        return None
    return ParsedMetric(parts[0], val, "SET", False, event_epoch=epoch)


def classify_py(line: str) -> str:
    """Test model of ``classify.line_class`` applied to the statsd
    parse's validity, as ``parse_stage`` classifies each line."""
    if parse_statsd_py(line) is not None:
        return "statsd"
    if parse_graphite_py(line) is not None:
        return "graphite"
    if line.startswith("{"):
        return "json"
    if (
        line == ""
        or "|" in line
        or (":" in line and " " not in line)
        or (" " not in line and line != "")
    ):
        return "bad"
    return "log"


def bucket_model(
    points: list[tuple[str, float, str, int, int]], bin_width: int
) -> dict:
    """Naive bucket model: points are (name, value, kind, epoch, order_key).
    Returns {(name, kind, bin): aggregate} applying the Value::add merge laws
    (src/metric/telemetry.rs:94-137): Sum adds, Set keeps last by order,
    Summarize collects samples."""
    out: dict = {}
    for name, value, kind, epoch, order in sorted(points, key=lambda p: p[4]):
        key = (name, kind, epoch // bin_width)
        cur = out.get(key)
        if kind == "SUM":
            out[key] = (cur or 0.0) + value
        elif kind == "SET":
            out[key] = value  # last write wins (points iterated in order)
        else:
            cur = cur or []
            cur.append(value)
            out[key] = cur
    return out

