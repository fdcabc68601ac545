"""Grok template compiler, rolling z-score, count-min sketch."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cernan_spark.functions.groklib import (
    COMMON_APACHE_LOG,
    grok_compile,
    grok_extract,
)
from cernan_spark.operators.anomaly import countmin_estimates, rolling_zscore
from tests.conftest import rows_to_tuples


def test_grok_compile_fields_and_anchoring():
    rx, fields = grok_compile(COMMON_APACHE_LOG)
    assert fields == [
        "client", "ident", "auth", "http_ts", "verb", "path",
        "httpversion", "status", "bytes",
    ]
    assert rx.startswith("^") and rx.endswith("$")
    # unnamed refs become non-capturing; named refs capture in order
    rx2, f2 = grok_compile("%{INT:a}-%{INT}-%{INT:b}")
    assert f2 == ["a", "b"]
    assert "(?:" in rx2


def test_grok_compile_unknown_pattern():
    with pytest.raises(KeyError):
        grok_compile("%{NOSUCH:x}")


def test_grok_extract_apache_line(spark):
    good = (
        '10.0.1.2 - alice [01/Jan/2024:00:00:00 +0000] '
        '"GET /api/click HTTP/1.1" 200 123'
    )
    df = spark.createDataFrame([(good,), ("garbage",)], "text string")
    out = {
        r["text"]: r
        for r in grok_extract(df, COMMON_APACHE_LOG).collect()
    }
    g = out[good]
    assert g["grok_matched"] is True
    assert (g["client"], g["verb"], g["path"], g["status"], g["bytes"]) == (
        "10.0.1.2", "GET", "/api/click", "200", "123"
    )
    b = out["garbage"]
    assert b["grok_matched"] is False and b["verb"] == ""


def test_rolling_zscore_golden(spark):
    cents = [0, 100, 0, 100, 500, 50]
    df = spark.createDataFrame(
        [("s", i, c) for i, c in enumerate(cents)],
        "name string, order_key int, cents long",
    )
    out = {
        r["order_key"]: r
        for r in rolling_zscore(df, ["name"], "order_key", "cents").collect()
    }
    # rows 0-3: no full trailing window -> NULL z
    for i in range(4):
        assert out[i]["z"] is None and out[i]["is_anomaly"] is None
    # row 4: prior [0,100,0,100] -> mean 50, std 50, z=(500-50)/50=9
    assert out[4]["z"] == 9.0 and out[4]["is_anomaly"] is True
    # row 5: prior [100,0,100,500] -> mean 175, var=36875, z ~ -0.6509
    assert out[5]["is_anomaly"] is False
    assert abs(out[5]["z"] + 0.6509) < 1e-4


def test_rolling_zscore_constant_window_null(spark):
    df = spark.createDataFrame(
        [("s", i, 100) for i in range(6)],
        "name string, order_key int, cents long",
    )
    out = rolling_zscore(df, ["name"], "order_key", "cents").collect()
    assert all(r["z"] is None for r in out)  # std 0 -> no z, never NaN


def test_countmin_overestimate_bound(spark):
    # 400 keys x 256 buckets -> collisions guaranteed; est >= exact always
    df = spark.range(5000).select(
        (F.pmod(F.col("id") * 2654435761, 400)).alias("kh")
    )
    rows = countmin_estimates(df, "kh", width=256).collect()
    assert len(rows) == 400
    assert all(r["est"] >= r["exact"] for r in rows)
    # with d=4 independent rows, most keys should still be exact
    exact_frac = sum(r["est"] == r["exact"] for r in rows) / len(rows)
    assert exact_frac > 0.5


def test_countmin_no_collision_exact(spark):
    # 10 keys in 256 buckets: no collisions -> sketch is exact
    df = spark.range(1000).select(F.pmod(F.col("id"), 10).alias("kh"))
    rows = rows_to_tuples(
        countmin_estimates(df, "kh", width=256), ["key_hash", "est", "exact"]
    )
    assert rows == [(k, 100, 100) for k in range(10)]


def test_hopping_sums_coverage_and_golden(spark):
    from cernan_spark.operators.aggregate import hopping_sums

    df = spark.createDataFrame(
        [("m", "SUM", 5.0, "2024-01-01 00:05:30")],
        "name string, kind string, value double, ts_s string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp"))
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    rows = hopping_sums(df, duration=600, slide=200).collect()
    # one event at t=+330s, 600/200 = 3 covering windows, starts at the
    # multiples of 200 in (t-600, t]: -200, 0, +200
    starts = sorted(r["ws"] for r in rows)
    t0 = 1704067200  # 2024-01-01 00:00:00 UTC
    assert starts == [t0 - 200, t0, t0 + 200]
    assert all(r["sum_value"] == 5.0 and r["n_points"] == 1 for r in rows)


def test_label_centroids_partitioning_invariant(spark):
    from cernan_spark.operators.similarity import label_centroids
    from tests.conftest import rows_to_tuples

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = rows_to_tuples(
        label_centroids(e.repartition(1)), ["label", "i", "mean", "n"]
    )
    b = rows_to_tuples(
        label_centroids(e.repartition(13)), ["label", "i", "mean", "n"]
    )
    assert a == b  # integer accumulation: order-free, bit-identical
    assert len(a) == len({(l, i) for (l, i, _, _) in a})


def test_grok_syslog_line(spark):
    from cernan_spark.functions.groklib import SYSLOG_LINE

    good = "<13>1704067200 h7 click: evt 42 value 3.50"
    # a captured field holding the \x01 field separator takes the
    # per-field regexp_extract fallback
    sep = "<13>1704067200 h7 click: evt \x01 42"
    df = spark.createDataFrame(
        [(good,), (sep,), ("no-pri evt 9",)], "text string"
    )
    g = grok_extract(df, SYSLOG_LINE).collect()
    byline = {r["text"]: r for r in g}
    ok = byline[good]
    assert ok["grok_matched"] and ok["pri"] == "13" and ok["prog"] == "click"
    assert ok["msg"] == "evt 42 value 3.50"
    assert byline[sep]["grok_matched"] and byline[sep]["msg"] == "evt \x01 42"
    assert not byline["no-pri evt 9"]["grok_matched"]


def test_sustained_alerts_islands(spark):
    from cernan_spark.operators.anomaly import sustained_alerts

    # series A: 2-run (below min_run), 3-run, isolated spike;
    # series B: 4-run split by one dip → still one 4-island? no — the dip
    # breaks it into 2+2, neither fires at min_run=3
    rows = [
        ("a", i, v)
        for i, v in enumerate([9, 11, 12, 5, 11, 12, 13, 5, 11])
    ] + [("b", i, v) for i, v in enumerate([11, 12, 5, 13, 14])]
    df = spark.createDataFrame(rows, "k string, o int, cents long")
    out = sustained_alerts(
        df, ["k"], "o", "cents", threshold_cents=10, min_run=3
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["k"], r["start_order"], r["end_order"], r["n_samples"],
            r["peak_cents"]) == ("a", 4, 6, 3, 13)


def test_series_gaps_reports_only_long_gaps(spark):
    from cernan_spark.operators.temporal import series_gaps

    rows = [("s", e) for e in [0, 100, 5000, 5100, 20000]]
    df = spark.createDataFrame(rows, "k string, epoch long")
    out = sorted(
        series_gaps(df, ["k"], "epoch", max_gap_s=1000).collect(),
        key=lambda r: r["gap_start"],
    )
    assert [(r["gap_start"], r["gap_end"], r["gap_s"]) for r in out] == [
        (100, 5000, 4900), (5100, 20000, 14900),
    ]


def test_rollup_tiers_merge_laws(spark):
    from cernan_spark.operators.aggregate import rollup_tiers

    rows = [("m", "SUM", e, c) for e, c in
            [(0, 5), (59, 7), (60, 1), (610, 2), (3601, 9)]]
    df = spark.createDataFrame(rows, "name string, kind string, epoch long, cents long")
    out = rollup_tiers(df, ["name", "kind"], "epoch", "cents",
                       tiers=(60, 600, 3600))
    rowsets = {}
    for r in out.collect():
        rowsets.setdefault(r["tier_s"], []).append(
            (r["ws"], r["n"], r["sum_cents"], r["min_cents"], r["max_cents"]))
    assert sorted(rowsets[60]) == [(0, 2, 12, 5, 7), (60, 1, 1, 1, 1),
                                   (600, 1, 2, 2, 2), (3600, 1, 9, 9, 9)]
    assert sorted(rowsets[600]) == [(0, 3, 13, 1, 7), (600, 1, 2, 2, 2),
                                    (3600, 1, 9, 9, 9)]
    assert sorted(rowsets[3600]) == [(0, 4, 15, 1, 7), (3600, 1, 9, 9, 9)]
    # coarse tiers must re-aggregate the fine tier, not rescan raw:
    # every coarse (n, sum) equals the sum of its children
    fine = {ws: (n, s) for ws, n, s, _, _ in rowsets[60]}
    for ws, n, s, _, _ in rowsets[600]:
        kids = [v for w, v in fine.items() if w // 600 * 600 == ws]
        assert (sum(k[0] for k in kids), sum(k[1] for k in kids)) == (n, s)


def test_rollup_tiers_rejects_non_nesting(spark):
    from cernan_spark.operators.aggregate import rollup_tiers

    df = spark.createDataFrame([("m", "SUM", 0, 1)],
                               "name string, kind string, epoch long, cents long")
    with pytest.raises(ValueError):
        rollup_tiers(df, ["name", "kind"], "epoch", "cents", tiers=(60, 90))


def test_metric_trend_exact_line(spark):
    """Two series exactly on lines (cents = 300x+500 and 1000-7x):
    slope and intercept recovered exactly, r2 == 1 for both."""
    from pyspark.sql import functions as F

    from cernan_spark.operators.anomaly import metric_trend

    rows = [("m", x, 300 * x + 500) for x in range(10)]
    rows += [("w", x, 1000 - 7 * x) for x in range(10)]
    df = spark.createDataFrame(rows, "k string, x long, cents long")
    got = {r["k"]: r for r in metric_trend(df, ["k"], "x", "cents").collect()}
    assert got["m"]["slope_cents_per_x"] == 300.0
    assert got["m"]["intercept_cents"] == 500.0
    assert got["m"]["r2"] == 1.0
    assert got["w"]["slope_cents_per_x"] == -7.0
    assert got["w"]["r2"] == 1.0


def test_lag_correlation_finds_planted_lead(spark):
    """B is A shifted by exactly 2 hours (plus a constant): the lag-2
    correlation is exactly 1.0 and every other lag is strictly lower."""
    from pyspark.sql import functions as F

    from cernan_spark.operators.anomaly import lag_correlation

    vals = [100, 400, 900, 1600, 400, 2500, 100, 3600, 900, 4900,
            1600, 100, 2500, 3600, 400, 4900, 900, 100, 1600, 2500]
    a = spark.createDataFrame(
        [(h, v) for h, v in enumerate(vals)], "h long, cents long"
    )
    b = spark.createDataFrame(
        [(h + 2, v + 50) for h, v in enumerate(vals)], "h long, cents long"
    )
    got = {r["lag"]: r["pearson_r"] for r in lag_correlation(a, b, 6).collect()}
    assert got[2] == 1.0
    assert all(got[l] < 1.0 for l in got if l != 2)


def test_overdispersion_index_hand_models(spark):
    """A constant series has dispersion 0; a bursty one matches the
    hand var/mean; the 1.5 flag separates them."""
    from cernan_spark.operators.anomaly import overdispersion_index

    const = spark.createDataFrame(
        [("m", i, 10) for i in range(6)], "k string, x long, c long"
    )
    g = overdispersion_index(const, ["k"], "c").first()
    assert g["dispersion"] == 0.0 and bool(g["overdispersed"]) is False
    assert g["mean"] == 10.0

    vals = [1, 1, 1, 1, 16]  # mean 4, var = (4*1+4*1+4*1+4*1... hand below
    df = spark.createDataFrame(
        [("m", i, v) for i, v in enumerate(vals)], "k string, x long, c long"
    )
    n = len(vals)
    mean = sum(vals) / n
    var = sum((v - mean) ** 2 for v in vals) / (n - 1)
    g2 = overdispersion_index(df, ["k"], "c").first()
    assert g2["dispersion"] == round(var / mean, 6)
    assert bool(g2["overdispersed"]) is True


def test_alert_flaps_hand_model(spark):
    """An oscillating series counts every crossing; a step series
    crosses once; the max_flips flag separates them."""
    from cernan_spark.operators.anomaly import alert_flaps

    osc = [("osc", i, 10 if i % 2 == 0 else 20, 15) for i in range(10)]
    step = [("step", i, 10 if i < 5 else 20, 15) for i in range(10)]
    df = spark.createDataFrame(
        osc + step, "k string, r long, v long, thr long"
    )
    out = {
        r["k"]: r
        for r in alert_flaps(df, ["k"], "r", "v", "thr", max_flips=3).collect()
    }
    assert out["osc"]["n_flips"] == 9 and bool(out["osc"]["flappy"]) is True
    assert out["osc"]["n_above"] == 5
    assert out["step"]["n_flips"] == 1
    assert bool(out["step"]["flappy"]) is False
