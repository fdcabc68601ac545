"""Bucket aggregation tests: merge laws, gauge persistence scenario
(fixture F6 ← reference src/buckets.rs:240-309), zero padding, prometheus
accumulation — each against hand-computed or model-computed goldens."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from cernan_spark.model import bucket_model
from cernan_spark.operators.aggregate import (
    bucket_aggregate_onepass,
    gauge_carry_forward,
    prometheus_accumulate,
    zero_pad,
)

PARSED_SCHEMA = (
    "name string, value double, kind string, persist boolean, "
    "event_epoch long, ts timestamp, order_key long"
)


def _parsed_df(spark, rows):
    """rows: (name, value, kind, persist, epoch, order_key)"""
    return spark.createDataFrame(
        [(n, v, k, p, e, None, o) for n, v, k, p, e, o in rows], PARSED_SCHEMA
    )


def test_sum_and_set_merge_laws(spark):
    rows = [
        ("cnt", 1.0, "SUM", False, 100, 1),
        ("cnt", 2.5, "SUM", False, 110, 2),   # same 60s bin
        ("cnt", 4.0, "SUM", False, 170, 3),   # next bin
        ("gauge", 5.0, "SET", True, 100, 4),
        ("gauge", 7.0, "SET", True, 111, 5),  # later order → wins
        ("gauge", 6.0, "SET", True, 105, 2),  # earlier order, same bin
    ]
    agg = bucket_aggregate_onepass(_parsed_df(spark, rows), bin_width=60)
    got = {
        (r["name"], r["bin"], r["kind"]): r["agg_value"]
        for r in agg.filter(F.col("kind").isin("SUM", "SET")).collect()
    }
    assert got[("cnt", 1, "SUM")] == pytest.approx(3.5)
    assert got[("cnt", 2, "SUM")] == pytest.approx(4.0)
    assert got[("gauge", 1, "SET")] == pytest.approx(7.0)  # last by order_key

    model = bucket_model(
        [(n, v, k, e, o) for n, v, k, p, e, o in rows], bin_width=60
    )
    for (name, kind, b), mv in model.items():
        if kind in ("SUM", "SET"):
            assert got[(name, b, kind)] == pytest.approx(mv)


def test_summarize_quantiles_within_eps(spark):
    vals = [float(i) for i in range(1, 101)]
    rows = [("t", v, "SUMMARIZE", False, 100, i) for i, v in enumerate(vals)]
    agg = bucket_aggregate_onepass(_parsed_df(spark, rows), bin_width=3600)
    r = agg.filter(F.col("kind") == "SUMMARIZE").collect()[0]
    qs = dict(zip(r["quantile_probs"], r["quantile_values"]))
    # percentile_approx error bound: rank error < n/accuracy = 0.1
    assert qs[0.0] == 1.0 and qs[1.0] == 100.0
    assert abs(qs[0.5] - 50.0) <= 2.0
    assert r["samples_sum"] == pytest.approx(sum(vals))
    assert r["n_points"] == 100
    assert r["mean_value"] == pytest.approx(50.5)


def test_histogram_bucketing(spark):
    rows = [
        ("h", 0.5, "HISTOGRAM", False, 10, 1),
        ("h", 1.0, "HISTOGRAM", False, 11, 2),    # == bound → lower bucket
        ("h", 5.0, "HISTOGRAM", False, 12, 3),
        ("h", 50.0, "HISTOGRAM", False, 13, 4),
        ("h", 5000.0, "HISTOGRAM", False, 14, 5),  # overflow → +Inf
    ]
    agg = bucket_aggregate_onepass(_parsed_df(spark, rows), bin_width=3600)
    out = agg.collect()[0]
    counts = {e["bound"]: e["cnt"] for e in out["hist"]}
    assert counts[1.0] == 2
    assert counts[10.0] == 1
    assert counts[100.0] == 1
    assert counts[1000.0] == 0
    assert counts[float("inf")] == 1
    assert out["n_points"] == 5


def test_histogram_ignores_bounds_column(spark):
    """The bounds come from ``bounds_expr`` alone: a per-row ``bounds``
    column buckets nothing, so every count sits under the label its
    values fall at or below."""
    values = [3.0, 30.0]
    df = _parsed_df(
        spark, [("h", v, "HISTOGRAM", False, 10, i) for i, v in enumerate(values)]
    ).withColumn("bounds", F.array(F.lit(5.0), F.lit(50.0)))
    out = bucket_aggregate_onepass(df, bin_width=3600).collect()[0]
    labels = [e["bound"] for e in out["hist"]]
    want = {b: 0 for b in labels}
    for v in values:
        want[min(b for b in labels if v <= b)] += 1
    assert {e["bound"]: e["cnt"] for e in out["hist"]} == want


def test_gauge_statsd_scenario(spark):
    """fitness_for_statsd_gauge (buckets.rs:240-309): lO:1|g → set 1.0;
    lO:+2|g → delta, inherits → 3.0; new bin without events inherits; plain
    gauge later resets (does NOT add)."""
    rows = [
        ("lO", 1.0, "SET", True, 0, 1),    # lO:1|g
        ("lO", 2.0, "SUM", True, 1, 2),    # lO:+2|g  → 3.0
        ("lO", 0.0, "SET", True, 130, 3),  # bin 2: plain gauge resets to 0
    ]
    cf = gauge_carry_forward(_parsed_df(spark, rows), bin_width=60, key_cols=["name"])
    by_bin = {r["bin"]: (r["gauge_value"], r["n_points"]) for r in cf.collect()}
    assert by_bin[0] == (3.0, 2)
    assert by_bin[1] == (3.0, 0)   # empty bin inherits (buckets.rs:163-175)
    assert by_bin[2] == (0.0, 1)


def test_delta_gauge_before_any_set(spark):
    """Deltas with no prior Set accumulate from 0 (buckets.rs:643-673),
    across bins too."""
    rows = [
        ("g", 1.5, "SUM", True, 0, 1),
        ("g", -2.0, "SUM", True, 61, 2),
    ]
    cf = gauge_carry_forward(_parsed_df(spark, rows), bin_width=60, key_cols=["name"])
    assert sorted((r["bin"], r["gauge_value"]) for r in cf.collect()) == [
        (0, 1.5),
        (1, -0.5),
    ]


def test_gauge_chunked_fold_equals_global(spark):
    """The fold is chunked by bin (16 points per bin, 13 bins per series):
    each bin's closing value must equal a whole-series Python fold, including
    delta runs that straddle bin boundaries and bins with no SET at all."""
    import random

    rng = random.Random(7)
    rows = []
    for series in ("a", "b"):
        for i in range(200):
            if rng.random() < 0.15:
                rows.append((series, "SET", float(rng.randint(0, 100)), i))
            else:
                rows.append((series, "SUM", float(rng.choice([-2, -1, 1, 3])), i))

    width = 16
    want, running = {}, {}
    for name, kind, value, i in rows:  # per series in order_key order
        running[name] = value if kind == "SET" else running.get(name, 0.0) + value
        want[(name, i // width)] = running[name]

    df = spark.createDataFrame(
        rows, "name string, kind string, value double, order_key long"
    ).withColumn("ts", F.timestamp_seconds("order_key"))
    got = {
        (r["name"], r["bin"]): r["gauge_value"]
        for r in gauge_carry_forward(df, bin_width=width, key_cols=["name"]).collect()
    }
    assert got.keys() == want.keys()
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-9, (k, got[k], v)


def test_zero_pad_gaps(spark):
    per_bin = spark.createDataFrame(
        [("m", 10, 1.0), ("m", 13, 2.0)], "name string, bin long, agg_value double"
    )
    out = {r["bin"]: r["agg_value"] for r in zero_pad(per_bin, ["name"]).collect()}
    assert out == {10: 1.0, 11: 0.0, 12: 0.0, 13: 2.0}


def test_zero_pad_returns_keys_bin_and_value_only(spark):
    """A padded bin saw no points: no other column of the observed bin
    before it (here ``n_points``) may be copied into the padding."""
    per_bin = spark.createDataFrame(
        [("m", 10, 1.0, 5), ("m", 12, 2.0, 3)],
        "name string, bin long, agg_value double, n_points long",
    )
    out = zero_pad(per_bin, ["name"])
    assert out.columns == ["name", "bin", "agg_value"]
    assert sorted(tuple(r) for r in out.collect()) == [
        ("m", 10, 1.0),
        ("m", 11, 0.0),
        ("m", 12, 2.0),
    ]


def test_prometheus_accumulate(spark):
    per_bin = spark.createDataFrame(
        [("c", "SUM", 1, 1.0, 2), ("c", "SUM", 2, 2.0, 1), ("c", "SUM", 4, 3.0, 1)],
        "name string, kind string, bin long, agg_value double, n_points long",
    )
    cum = prometheus_accumulate(per_bin, ["name"])
    got = {r["bin"]: (r["cum_value"], r["cum_count"]) for r in cum.collect()}
    assert got == {1: (1.0, 2), 2: (3.0, 3), 4: (6.0, 4)}


def test_gauge_fold_parallelizes_hot_series(spark):
    """One hot series must spread across >1 task in the fold stage
    (VERDICT r1: the whole-series window serialized popular gauges): the
    fold is keyed (series, bin), so a series observed in many bins shuffles
    on its bins, and each bin still gets the right closing value."""
    n, width = 200_000, 10_000
    df = spark.range(n).select(
        F.lit("hot").alias("name"),
        F.when(F.col("id") % 1000 == 0, F.lit("SET")).otherwise(F.lit("SUM")).alias("kind"),
        F.when(F.col("id") % 1000 == 0, F.lit(100.0)).otherwise(F.lit(1.0)).alias("value"),
        F.timestamp_seconds(F.col("id")).alias("ts"),
        F.col("id").alias("order_key"),
    )
    out = gauge_carry_forward(df, bin_width=width, key_cols=["name"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"Exchange hashpartitioning\([^)]*\bbin#", plan), plan
    got = sorted((r["bin"], r["gauge_value"], r["n_points"]) for r in out.collect())
    # each bin's last SET (=100) is followed by 999 deltas of +1
    assert got == [(b, 1099.0, width) for b in range(n // width)]


def test_prometheus_resume_equals_one_pass(spark):
    """prometheus_resume(state, run2) ≡ prometheus_accumulate(run1 ∪ run2)
    restricted to run-2 bins — for SUM (adds), SET (latest carries across
    the run boundary), and HISTOGRAM (bucket vectors add); a key with no
    run-2 bins emits nothing."""
    from pyspark.sql import functions as F

    from cernan_spark.operators.aggregate import (
        prometheus_accumulate,
        prometheus_final_state,
        prometheus_resume,
    )

    def hist(*counts):
        return [{"bound": float(b), "cnt": c}
                for b, c in zip([1.0, 10.0, float("inf")], counts)]

    rows = [
        # (name, kind, bin, agg_value, n_points, hist)
        ("c", "SUM", 1, 5.0, 2, None),
        ("c", "SUM", 2, 7.0, 1, None),
        ("c", "SUM", 4, 1.5, 1, None),
        ("g", "SET", 1, 3.0, 1, None),          # run-1 only: carries
        ("g", "SET", 5, 9.0, 1, None),
        ("h", "HISTOGRAM", 2, None, 3, hist(1, 2, 0)),
        ("h", "HISTOGRAM", 6, None, 2, hist(0, 1, 1)),
        ("old", "SUM", 1, 2.0, 1, None),        # no run-2 bins
    ]
    schema = (
        "name string, kind string, bin long, agg_value double, "
        "n_points long, hist array<struct<bound:double,cnt:long>>"
    )
    per_bin = spark.createDataFrame(rows, schema)
    thr = 3
    run1 = per_bin.filter(F.col("bin") < thr)
    run2 = per_bin.filter(F.col("bin") >= thr)

    state = prometheus_final_state(
        prometheus_accumulate(run1, ["name", "kind"]), ["name", "kind"]
    )
    resumed = prometheus_resume(state, run2, ["name", "kind"])
    one_pass = prometheus_accumulate(per_bin, ["name", "kind"]).filter(
        F.col("bin") >= thr
    )

    def canon(df):
        return sorted(
            (r["name"], r["kind"], r["bin"], r["cum_value"], r["cum_count"],
             tuple((b["bound"], b["cnt"]) for b in r["cum_hist"])
             if r["cum_hist"] is not None else None)
            for r in df.select(
                "name", "kind", "bin", "cum_value", "cum_count", "cum_hist"
            ).collect()
        )

    r, o = canon(resumed), canon(one_pass)
    assert r == o
    by_key = {(n, k, b): (cv, cc, ch) for n, k, b, cv, cc, ch in r}
    assert by_key[("c", "SUM", 4)][:2] == (13.5, 4)     # 5+7 state, +1.5
    assert by_key[("g", "SET", 5)][0] == 9.0            # new SET wins
    assert by_key[("h", "HISTOGRAM", 6)][2] == ((1.0, 1), (10.0, 3), (float("inf"), 1))
    assert ("old", "SUM", 1) not in by_key              # stays in state only


def test_histogram_quantile_interpolation(spark):
    """Hand-checkable interpolation: 10 values spread so p50 lands mid
    second bucket and p99 in the +inf bucket (returns its lower edge)."""
    from cernan_spark.operators.aggregate import histogram_quantile

    # buckets (0,1],(1,10],(10,100],(100,1000],(1000,inf)
    vals = [0.5, 0.5, 5.0, 5.0, 5.0, 5.0, 50.0, 500.0, 900.0, 2000.0]
    df = spark.createDataFrame([("m", v) for v in vals], "name string, value double")
    r = histogram_quantile(df, ["name"], "value", probs=(0.5, 0.99)).collect()[0]
    assert (r["c0"], r["c1"], r["c2"], r["c3"], r["c4"]) == (2, 4, 1, 2, 1)
    # rank(p50)=5 → second bucket (cum 6 ≥ 5): 1 + 9*(5-2)/4 = 7.75
    assert r["p50"] == 7.75
    # rank(p99)=9.9 → +inf bucket (cum 10 ≥ 9.9): lower edge 1000
    assert r["p99"] == 1000.0


def test_histogram_quantile_empty_and_first_bucket(spark):
    from cernan_spark.operators.aggregate import histogram_quantile

    df = spark.createDataFrame([("m", 0.25), ("m", 0.75)], "name string, value double")
    r = histogram_quantile(df, ["name"], "value", probs=(0.5,)).collect()[0]
    # rank=1.0, first bucket: 0 + 1*(1-0)/2 = 0.5
    assert r["p50"] == 0.5


def test_zorder_key_interleaves_bits(spark):
    from cernan_spark.operators.packing import zorder_key

    df = spark.createDataFrame([(3, 0), (0, 3), (1, 1), (65535, 65535)],
                               "x long, y long")
    got = [r["z"] for r in df.select(
        zorder_key(F.col("x"), F.col("y")).alias("z")).collect()]
    # x bits land on even positions, y bits on odd
    assert got == [0b0101, 0b1010, 0b0011, (1 << 32) - 1]


def test_zorder_locality_beats_single_key(spark):
    """Sorting by z clusters BOTH dimensions: within contiguous z ranges
    the x-span is bounded, unlike a sort by y alone."""
    from cernan_spark.operators.packing import zorder_key

    df = spark.range(4096).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    ).select("x", "y", zorder_key(F.col("x"), F.col("y")).alias("z"))
    cells = (
        df.groupBy(F.shiftright("z", 6).alias("cell"))
        .agg((F.max("x") - F.min("x")).alias("xs"), (F.max("y") - F.min("y")).alias("ys"))
        .agg(F.max("xs").alias("mx"), F.max("ys").alias("my"))
        .collect()[0]
    )
    # each 64-point z-cell spans ≤ 8 in BOTH dimensions (8×8 tile)
    assert cells["mx"] <= 8 and cells["my"] <= 8
