"""End-to-end pipeline over the synthetic fixture corpus: per-sink routed
counts + routed-row set equality vs the pure-Python model (the golden gate
from BASELINE.json)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cernan_spark.model import classify_py, parse_statsd_py
from cernan_spark.plans.pipeline import run_pipeline
from cernan_spark.sources.dimensions import MASK_SCHEMA, local_table
from cernan_spark.sources.transcripts import synthetic_transcripts


def test_pipeline_counts_vs_model(spark):
    t = synthetic_transcripts(spark, n_convs=30, turns_per_conv=20, seed=42)
    t_local = t.collect()
    out = run_pipeline(spark, t)

    # model: classify + parse each turn's text
    classes = {}
    telemetry_names = []
    for row in t_local:
        for line in row["text"].split("\n"):
            c = classify_py(line)
            classes[c] = classes.get(c, 0) + 1
            if c == "statsd":
                telemetry_names.append(parse_statsd_py(line).name)

    bad = out["bad"].count()
    assert bad == classes.get("bad", 0)

    tel = out["telemetry"]
    n_statsd = tel.filter(F.col("event_epoch").isNull()).count()
    assert n_statsd == classes.get("statsd", 0)
    n_graphite = tel.filter(F.col("event_epoch").isNotNull()).count()
    assert n_graphite == classes.get("graphite", 0)

    logs = out["logs"].count()
    assert logs == classes.get("json", 0) + classes.get("log", 0)

    # per-sink counts: console/wavefront/prometheus get every telemetry row
    counts = {r["sink"]: r["n_rows"] for r in out["sink_counts"].collect()}
    n_tel = classes.get("statsd", 0) + classes.get("graphite", 0)
    assert counts["console"] == n_tel
    assert counts["wavefront"] == n_tel
    assert counts["prometheus"] == n_tel
    assert counts["elasticsearch"] == logs
    assert counts["kafka"] == logs


def test_pipeline_routed_row_set_equality(spark):
    """Routed-row set equality for a selective sink (influxdb gets only
    purchase*/errors series)."""
    t = synthetic_transcripts(spark, n_convs=20, turns_per_conv=20, seed=43)
    out = run_pipeline(spark, t)
    got = sorted(
        (r["name"], r["order_key"])
        for r in out["routed_telemetry"]
        .filter(F.col("sink") == "influxdb")
        .select("name", "order_key")
        .collect()
    )
    # model twin
    expected = []
    for row in t.collect():
        for pos, line in enumerate(row["text"].split("\n")):
            if classify_py(line) == "statsd":
                p = parse_statsd_py(line)
                import re

                if re.match("^purchase", p.name) or re.fullmatch("errors", p.name):
                    expected.append((p.name, row["order_key"] * 4096 + pos))
    assert got == sorted(expected)


def test_per_turn_text_equality_stable_order(spark):
    """North-rule invariant: (conv_id, turn_idx) ordering is total and text
    survives the pipeline untouched on the log path."""
    t = synthetic_transcripts(spark, n_convs=10, turns_per_conv=10, seed=44)
    out = run_pipeline(spark, t)
    logs = out["logs"].select("conv_id", "turn_idx", "line").collect()
    source = {
        (r["conv_id"], r["turn_idx"]): r["text"] for r in t.collect()
    }
    for r in logs:
        assert r["line"] in source[(r["conv_id"], r["turn_idx"])].split("\n")

    # ordering is dense + unique per conversation
    dup = (
        t.groupBy("conv_id", "turn_idx").count().filter(F.col("count") > 1).count()
    )
    assert dup == 0


@pytest.mark.parametrize(
    "bounds",
    [[float(b) for b in range(1, 10)], [100.0, 10.0, 1.0]],
    ids=["nine_bounds", "descending"],
)
def test_bad_mask_bounds_rejected_at_build(spark, bounds):
    """A mask rule the bucket aggregate cannot hold (more than 8 bounds, or
    bounds not strictly ascending) fails the plan build, naming the mask."""
    masks = local_table(spark, [("^errors$", bounds, 1)], MASK_SCHEMA)
    t = synthetic_transcripts(spark, n_convs=2, turns_per_conv=2, seed=1)
    with pytest.raises(ValueError, match=r"\^errors\$"):
        run_pipeline(spark, t, masks=masks)
