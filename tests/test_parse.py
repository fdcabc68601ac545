"""Golden parse tests — the reference's fixed corpora
(src/protocols/statsd.rs:358-623, graphite.rs:56-92) plus a seeded random
sweep against the pure-Python model (quickcheck stand-in)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from cernan_spark.functions.classify import line_class
from cernan_spark.functions.graphite import parse_graphite_lines
from cernan_spark.functions.statsd import mask_bounds_expr, parse_statsd_lines
from cernan_spark.model import classify_py, parse_statsd_py
from cernan_spark.operators.aggregate import bucket_aggregate_onepass

# (line, name, value, kind, persist) — reference statsd.rs:358-420,577-623
STATSD_GOLDEN = [
    ("zrth:0|g", "zrth", 0.0, "SET", True),
    ("fst:-1.1|ms", "fst", -1.1, "SUMMARIZE", False),
    ("snd:+2.2|g", "snd", 2.2, "SUM", True),
    ("thd:3.3|h", "thd", 3.3, "SUMMARIZE", False),
    ("fth:4|c", "fth", 4.0, "SUM", False),
    ("fvth:5.5|c|@0.1", "fvth", 55.0, "SUM", False),
    ("sxth:-6.6|g", "sxth", -6.6, "SUM", True),
    ("svth:+7.77|g", "svth", 7.77, "SUM", True),
    ("a-b:5.2|c@0.2", "a-b", 26.0, "SUM", False),
    ("a=b:1|c", "a=b", 1.0, "SUM", False),
    ("a/b:2|c", "a/b", 2.0, "SUM", False),
    ("gauge.dec:-1|g|@0.5", "gauge.dec", -2.0, "SUM", True),
]

STATSD_BAD = ["", "metric", "metric|11:", "metric:13|", ":|@", ":1.0|c", "a:b|c", "x:1|q"]


def test_statsd_golden(spark):
    df = spark.createDataFrame([(l,) for l, *_ in STATSD_GOLDEN], "line string")
    got = {
        r["line"]: (r["name"], r["value"], r["kind"], r["persist"])
        for r in parse_statsd_lines(df).collect()
    }
    for line, name, value, kind, persist in STATSD_GOLDEN:
        assert got[line] == (name, pytest.approx(value), kind, persist), line


def test_statsd_bad_lines(spark):
    df = spark.createDataFrame([(l,) for l in STATSD_BAD], "line string")
    out = parse_statsd_lines(df, keep_invalid=True).collect()
    assert all(not r["is_valid"] for r in out)
    # bad lines are counted, not dropped silently
    assert len(out) == len(STATSD_BAD)


def test_statsd_histogram_mask(spark):
    masks = spark.createDataFrame(
        [("^hist\\.", [1.0, 2.0], 1)], "mask string, bounds array<double>, priority int"
    )
    df = spark.createDataFrame(
        [("hist.x:3|ms", 1), ("plain:3|ms", 2), ("hist.y:1|c", 3)],
        "line string, order_key long",
    ).withColumn("ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
    parsed = parse_statsd_lines(df, masks=masks)
    rows = {r["name"]: r for r in parsed.collect()}
    assert rows["hist.x"]["kind"] == "HISTOGRAM"
    assert rows["plain"]["kind"] == "SUMMARIZE"
    assert rows["hist.y"]["kind"] == "SUM"  # masks only apply to ms/h
    # the aggregate decides the bounds: the rule's, then the +inf bucket
    agg = bucket_aggregate_onepass(parsed, bounds_expr=mask_bounds_expr(masks))
    hist = agg.filter(F.col("name") == "hist.x").collect()[0]["hist"]
    assert [(e["bound"], e["cnt"]) for e in hist] == [
        (1.0, 0), (2.0, 0), (float("inf"), 1)
    ]


GRAPHITE_GOLDEN = [
    ("fst 1 101", "fst", 1.0, 101),
    ("snd -2.0 202", "snd", -2.0, 202),
    ("thr 3 303", "thr", 3.0, 303),
    ("fth@fth 4 404", "fth@fth", 4.0, 404),
    ("fv%fv 5 505", "fv%fv", 5.0, 505),
    ("s-th 6 606", "s-th", 6.0, 606),
]


def test_graphite_golden(spark):
    df = spark.createDataFrame([(l,) for l, *_ in GRAPHITE_GOLDEN], "line string")
    got = {
        r["line"]: (r["name"], r["value"], r["event_epoch"], r["kind"])
        for r in parse_graphite_lines(df).collect()
    }
    for line, name, value, epoch in GRAPHITE_GOLDEN:
        assert got[line] == (name, pytest.approx(value), epoch, "SET"), line


def _random_lines(n: int, seed: int) -> list[str]:
    rng = random.Random(seed)
    lines = []
    for _ in range(n):
        shape = rng.randrange(6)
        name = rng.choice(["a", "b.c", "x-y", "k=v", "p/q", "m_n"])
        val = round(rng.uniform(-100, 100), rng.randrange(4))
        ty = rng.choice(["c", "g", "ms", "h"])
        if shape == 0:
            lines.append(f"{name}:{val}|{ty}")
        elif shape == 1:
            rate = rng.choice([0.1, 0.25, 0.5, 1.0])
            lines.append(f"{name}:{val}|{ty}|@{rate}")
        elif shape == 2:
            rate = rng.choice([0.1, 0.2])
            lines.append(f"{name}:{val}|{ty}@{rate}")
        elif shape == 3:
            lines.append(f"{name}:+{abs(val)}|g")
        elif shape == 4:
            lines.append(f"{name} {val} {rng.randrange(10**9)}")
        else:
            lines.append(rng.choice(["", "junk", f"{name}:{val}", "a b", "{}"]))
    return lines


def _check_vs_model(spark, lines):
    """Spark parse ≡ the pure-Python model on ``lines``: validity, and
    (name, kind, persist, value within fp tolerance) of the valid ones."""
    df = spark.createDataFrame([(l,) for l in lines], "line string")
    got = {r["line"]: r for r in parse_statsd_lines(df, keep_invalid=True).collect()}
    for line in lines:
        expected = parse_statsd_py(line)
        row = got[line]
        if expected is None:
            assert not row["is_valid"], f"spark parsed bad line {line!r}"
            assert (row["name"], row["value"], row["kind"], row["persist"]) == (
                None, None, None, None
            ), line
        else:
            assert row["is_valid"], f"spark rejected good line {line!r}"
            assert row["name"] == expected.name
            assert row["kind"] == expected.kind
            assert row["persist"] == expected.persist
            assert row["value"] == pytest.approx(expected.value, rel=1e-12)


def test_statsd_random_sweep_vs_model(spark):
    """Seeded sweep: Spark parse ≡ the pure-Python model — the quickcheck
    round-trip stand-in."""
    _check_vs_model(spark, _random_lines(400, seed=42))


# slicer edge cases: empty slices, a pipe before the colon, repeated
# separators, rate forms and multibyte text. instr, locate and substr all
# count characters, not bytes, so the multibyte lines pin that the slices
# land on character positions.
SLICER_EDGES = [
    "", ":", "|", ":|", "a:", "a:|c", ":1|c", "a|b:1|c", "a:b:1|c",
    "a::1|c", "a:1|c|", "a:1||c", "a:1|c:2|g", "a:1|c@0.5", "a:1|c|@0.5",
    "a:1|c@", "a:1|c@x", "a:1|c@0", "a: 1 |c",
    "é:1|c", "名前:1.5|ms", "名前:1.5|ms@0.5", "a:1|üms@0.5", "a:1|ms@ü0.5",
    "a:ü|ms@0.5", "ü|a:1|c",
]


def test_statsd_slicer_edges_vs_model(spark):
    _check_vs_model(spark, SLICER_EDGES)


def test_classify_vs_model(spark):
    lines = _random_lines(200, seed=7) + [
        '{"good": "do parse"}',
        '[123, "not an object"]',
        "this is not json",
        "plain prose line here",
    ]
    df = spark.createDataFrame([(l,) for l in lines], "line string")
    # the exact expression parse_stage runs: classify from parse validity
    classified = parse_statsd_lines(df, keep_invalid=True).select(
        "line", line_class(F.col("line"), F.col("is_valid")).alias("line_class")
    )
    got = {r["line"]: r["line_class"] for r in classified.collect()}
    for line in lines:
        assert got[line] == classify_py(line), line
