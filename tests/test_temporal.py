"""As-of join + counter increase/reset (operators/temporal.py).

Strategy mirrors the reference's quickcheck model tests: seeded-random
inputs, two independent implementations (the broadcast sorted-array plan
vs a union-tag window plan and vs a Python as-of lookup; the
column-expression counter vs a plain Python fold) asserted equal
row-for-row.
"""

from __future__ import annotations

import random

from pyspark.sql import Window
from pyspark.sql import functions as F

from cernan_spark.operators.temporal import (
    asof_join_broadcast,
    counter_increase,
)
from tests.conftest import rows_to_tuples


def _asof_fixture(spark, seed: int):
    rng = random.Random(seed)
    keys = ["alpha", "beta", "gamma", "delta"]
    left = [
        (k, rng.randint(0, 1000), i)
        for i, k in enumerate(rng.choices(keys, k=200))
    ]
    # 'delta' gets no versions at all → NULL payload; duplicate
    # valid_from timestamps on purpose (tie-break must be deterministic)
    right = []
    for k in keys[:3]:
        stamps = [rng.randint(0, 900) for _ in range(6)]
        stamps[1] = stamps[0]  # forced duplicate
        right += [(k, ts, f"payload_{k}_{j}") for j, ts in enumerate(stamps)]
    ldf = spark.createDataFrame(left, "key string, ts long, row_id long")
    rdf = spark.createDataFrame(right, "key string, valid_from long, sink string")
    return ldf, rdf


def _asof_union_model(left, right, key_cols, left_ts, right_ts, payload_cols):
    """Reference as-of join as a union-tag window plan.

    Right rows sort before left rows at the same timestamp, so
    ``valid_from == ts`` is inclusive; duplicate right timestamps keep
    the max payload, the broadcast form's struct tie-break.
    """
    lcols = left.columns
    r_dedup = right.groupBy(*key_cols, F.col(right_ts).alias("__ts")).agg(
        F.max(F.struct(*payload_cols)).alias("__payload")
    )
    l_tag = left.select(
        *key_cols,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.struct(*lcols).alias("__row"),
        F.lit(None).cast(r_dedup.schema["__payload"].dataType).alias("__payload"),
    )
    r_tag = r_dedup.select(
        *key_cols,
        "__ts",
        F.lit(0).alias("__side"),
        F.lit(None).cast(l_tag.schema["__row"].dataType).alias("__row"),
        "__payload",
    )
    w = (
        Window.partitionBy(*key_cols)
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = l_tag.unionByName(r_tag).withColumn(
        "__state", F.last("__payload", ignorenulls=True).over(w)
    )
    return carried.where(F.col("__side") == 1).select(
        *[F.col(f"__row.{c}").alias(c) for c in lcols],
        *[F.col(f"__state.{c}").alias(c) for c in payload_cols],
    )


def test_asof_broadcast_equals_union(spark):
    for seed in (7, 41, 1999):
        ldf, rdf = _asof_fixture(spark, seed)
        a = asof_join_broadcast(ldf, rdf, ["key"], "ts", "valid_from", ["sink"])
        b = _asof_union_model(ldf, rdf, ["key"], "ts", "valid_from", ["sink"])
        cols = ["key", "ts", "row_id", "sink"]
        assert rows_to_tuples(a, cols) == rows_to_tuples(b, cols), seed


def test_asof_matches_python_model(spark):
    ldf, rdf = _asof_fixture(spark, 23)
    out = rows_to_tuples(
        asof_join_broadcast(ldf, rdf, ["key"], "ts", "valid_from", ["sink"]),
        ["key", "ts", "row_id", "sink"],
    )
    versions: dict[str, list[tuple[int, str]]] = {}
    for r in rdf.collect():
        versions.setdefault(r.key, []).append((r.valid_from, r.sink))
    model = []
    for r in ldf.collect():
        elig = sorted(
            v for v in versions.get(r.key, []) if v[0] <= r.ts
        )
        model.append((r.key, r.ts, r.row_id, elig[-1][1] if elig else None))
    assert out == sorted(model)


def test_asof_null_before_first_version(spark):
    ldf = spark.createDataFrame(
        [("k", 5, 0), ("k", 15, 1)], "key string, ts long, row_id long"
    )
    rdf = spark.createDataFrame(
        [("k", 10, "v1")], "key string, valid_from long, sink string"
    )
    got = {
        r.row_id: r.sink
        for r in asof_join_broadcast(
            ldf, rdf, ["key"], "ts", "valid_from", ["sink"]
        ).collect()
    }
    assert got == {0: None, 1: "v1"}


def test_counter_increase_model(spark):
    rng = random.Random(99)
    rows = []
    for name in ("a", "b"):
        cum = 0
        for i in range(300):
            cum += rng.randint(0, 50)
            rows.append((name, i, cum % 1000))  # wrap = reset
    df = spark.createDataFrame(rows, "name string, order_key long, wrapped long")
    got = rows_to_tuples(
        counter_increase(df, ["name"], "order_key", "wrapped"),
        ["name", "order_key", "wrapped", "is_reset", "increase"],
    )
    model = []
    for name in ("a", "b"):
        series = sorted(r for r in rows if r[0] == name)
        prev = None
        for _, i, v in series:
            if prev is None:
                model.append((name, i, v, False, v))
            elif v < prev:
                model.append((name, i, v, True, v))
            else:
                model.append((name, i, v, False, v - prev))
            prev = v
    assert got == sorted(model)


def test_counter_increase_recovers_total(spark):
    # sum of increases over a wrapped series == final unwrapped total
    incs = [3, 7, 0, 12, 5, 9, 1, 4]
    cum, rows = 0, []
    for i, d in enumerate(incs):
        cum += d
        rows.append(("s", i, cum % 10))
    df = spark.createDataFrame(rows, "name string, order_key long, wrapped long")
    out = counter_increase(df, ["name"], "order_key", "wrapped")
    total = out.agg(F.sum("increase")).collect()[0][0]
    resets = out.filter("is_reset").count()
    # prometheus increase() under-counts by the pre-reset remainder the
    # restart discarded; with modulus 10 each observed reset loses the
    # distance from the previous sample to the wrap point — bound it
    assert resets > 0
    true_total = sum(incs)
    assert total <= true_total
    assert total >= true_total - 10 * resets


def test_funnel_strict_ordering(spark):
    from cernan_spark.operators.behavior import funnel_steps

    # u1 completes in order; u2 has the view BEFORE the click (stalls at
    # stage 1); u3 never clicks (absent from the funnel entirely)
    rows = [
        (1, "click", 10), (1, "view", 20), (1, "purchase", 30),
        (2, "view", 5), (2, "click", 10), (2, "purchase", 50),
        (3, "view", 1), (3, "purchase", 2),
    ]
    df = spark.createDataFrame(
        [(u, t, e) for u, t, e in rows], "user_id long, event_type string, e long"
    ).withColumn("ts", F.timestamp_seconds(F.col("e")))
    out = {r["user_id"]: r for r in
           funnel_steps(df, ["click", "view", "purchase"]).collect()}
    assert set(out) == {1, 2}
    assert out[1]["stage"] == 3
    # u2: no view after the click, so purchase can't count either
    assert out[2]["stage"] == 1 and out[2]["t_2"] is None and out[2]["t_3"] is None


def test_cohort_retention_offsets(spark):
    from cernan_spark.operators.behavior import cohort_retention

    wk = 604800
    rows = [(1, 0), (1, wk), (1, 3 * wk), (2, wk), (2, wk + 5)]
    df = spark.createDataFrame(rows, "user_id long, e long").withColumn(
        "ts", F.timestamp_seconds(F.col("e"))
    )
    out = {(r["cohort_week"], r["week_offset"]): r["n_users"]
           for r in cohort_retention(df).collect()}
    assert out == {(0, 0): 1, (0, 1): 1, (0, 3): 1, (1, 0): 1}


def test_slo_burn_two_window_rule(spark):
    from cernan_spark.operators.anomaly import slo_burn_windows

    # hour 0: 20% errors inside a burning 6h → pages; hour 1: 20% errors
    # but the long window is healthy → silent
    rows = (
        [(i * 10, i < 2) for i in range(10)]            # h0: 2/10 err
        + [(3600 + i, False) for i in range(10)]         # h1 of same 6h: clean
        + [(21600 * 5 + i, i == 0) for i in range(20)]   # later 6h: 1/20
    )
    df = spark.createDataFrame(rows, "epoch long, is_err boolean")
    out = {r["ws"]: r for r in
           slo_burn_windows(df, "epoch", "is_err").collect()}
    assert out[0]["page"] is False or out[0]["n_err"] == 2
    # h0 short ratio 0.2 > 0.1, long ratio 2/20 = 0.1 NOT > 0.1 → no page
    assert out[0]["page"] is False
    # make the long window burn too
    rows2 = [(i, i % 5 == 0) for i in range(100)]        # 20% err everywhere
    df2 = spark.createDataFrame(rows2, "epoch long, is_err boolean")
    r = slo_burn_windows(df2, "epoch", "is_err").collect()[0]
    assert r["page"] is True and r["short_ratio"] == 0.2


def test_mine_templates_classes(spark):
    from cernan_spark.operators.textstats import mine_templates

    rows = [
        ("c1", "evt 123 took 45ms"),
        ("c2", "evt 9 took 1ms"),
        ("c1", "oom at 0xdeadbeef"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, text string")
    out = {r["template"]: r for r in mine_templates(df).collect()}
    assert out["evt <N> took <N>ms"]["n"] == 2
    assert out["evt <N> took <N>ms"]["n_convs"] == 2
    assert out["evt <N> took <N>ms"]["example"] == "evt 123 took 45ms"
    assert out["oom at <HEX>"]["n"] == 1


def test_cdc_snapshot_diff_statuses(spark):
    from cernan_spark.operators.temporal import cdc_snapshot_diff

    # key 1: updated between t1 and t2 → changed
    # key 2: deleted after t1 → removed
    # key 3: first written after t1 → added
    # key 4: untouched after t1 → absent from the diff
    rows = [
        (1, 10, 5, "U"), (1, 11, 15, "U"),
        (2, 20, 5, "U"), (2, 21, 15, "D"),
        (3, 30, 15, "U"),
        (4, 40, 5, "U"),
    ]
    df = spark.createDataFrame(rows, "k long, event_id long, e long, op string")
    out = {r["k"]: r["status"] for r in cdc_snapshot_diff(
        df, ["k"], ["e", "event_id"], "e", t1=10, t2=20).collect()}
    assert out == {1: "changed", 2: "removed", 3: "added"}


def test_watermark_advisor_hand_model(spark):
    """10 in-order events plus one 5s-late straggler: p99 lateness is
    the straggler's 5s (rank 11 of 11), the recommendation is 5s, and
    coverage at 5s is 1.0. With pct=50 the median lateness is 0."""
    import datetime as dt

    from pyspark.sql import functions as F

    from cernan_spark.operators.temporal import watermark_advisor

    t0 = dt.datetime(2026, 1, 1)
    rows = [("s", t0 + dt.timedelta(seconds=i), i, i) for i in range(10)]
    # arrives last (arrival 10) but its event time is 5s behind the max
    rows.append(("s", t0 + dt.timedelta(seconds=4), 99, 10))
    df = spark.createDataFrame(
        rows, "key string, ts timestamp, event_id long, arrival long"
    )
    r = watermark_advisor(df, ["key"], ["arrival", "event_id"], "ts").collect()[0]
    assert r["n_rows"] == 11
    assert r["p99_late_us"] == 5_000_000
    assert r["rec_watermark_s"] == 5
    assert r["coverage_at_rec"] == 1.0
    r50 = watermark_advisor(
        df, ["key"], ["arrival", "event_id"], "ts", pct=50
    ).collect()[0]
    assert r50["p50_late_us"] == 0


def test_holt_forecast_hand_model(spark):
    """y=[10,20,30]: l=23.75, b=5.625, forecast 29.375 by hand; a
    constant series keeps level = value, trend decaying-from-zero = 0."""
    from cernan_spark.operators.temporal import holt_forecast

    df = spark.createDataFrame(
        [("k", 1, 10), ("k", 2, 20), ("k", 3, 30)],
        "k string, x long, y long",
    )
    got = holt_forecast(df, ["k"], ["x"], "y").first()
    assert got["n_points"] == 3
    assert got["level"] == 23.75
    assert got["trend"] == 5.625
    assert got["forecast_1"] == 29.375

    const = spark.createDataFrame(
        [("k", i, 7) for i in range(10)], "k string, x long, y long"
    )
    g2 = holt_forecast(const, ["k"], ["x"], "y").first()
    assert g2["level"] == 7.0 and g2["trend"] == 0.0


def test_holt_tracks_linear_ramp(spark):
    """On a long pure ramp the trend converges to the true slope and the
    one-step forecast approaches the next value."""
    from cernan_spark.operators.temporal import holt_forecast

    df = spark.createDataFrame(
        [("k", i, 100 + 5 * i) for i in range(200)],
        "k string, x long, y long",
    )
    got = holt_forecast(df, ["k"], ["x"], "y").first()
    assert abs(got["trend"] - 5.0) < 0.01
    assert abs(got["forecast_1"] - (100 + 5 * 200)) < 0.1


def test_stl_decompose_recovers_planted_seasonality(spark):
    """A series = linear trend + planted hour-of-day bumps: the
    decomposition recovers the bump offsets (up to the seasonal mean)
    and leaves near-zero residuals."""
    from cernan_spark.operators.temporal import stl_decompose

    bump = {0: 50, 1: -30}  # hours 0 and 1 of each day deviate
    rows = [
        ("m", h, 1000 + 2 * h + bump.get(h % 24, 0))
        for h in range(24 * 10)
    ]
    df = spark.createDataFrame(rows, "k string, h long, y long")
    out = {r["hos"]: r for r in stl_decompose(df, ["k"], "h", "y").collect()}
    assert len(out) == 24
    # seasonal estimates preserve the bump GAPS (a constant offset may
    # shift all slots, and MA edges leak ~1 unit)
    assert abs((out[0]["seasonal"] - out[5]["seasonal"]) - 50) < 1.5
    assert abs((out[1]["seasonal"] - out[5]["seasonal"]) - (-30)) < 1.5
    assert all(r["mean_abs_resid"] < 3.0 for r in out.values())
    # complete-window rule: 12 rows trimmed at each edge
    assert sum(r["n_obs"] for r in out.values()) == 240 - 24


def test_stl_flat_series_is_all_zero(spark):
    """A constant series has zero seasonal and zero residual
    everywhere."""
    from cernan_spark.operators.temporal import stl_decompose

    df = spark.createDataFrame(
        [("k", h, 500) for h in range(100)], "k string, h long, y long"
    )
    rows = stl_decompose(df, ["k"], "h", "y").collect()
    assert all(r["seasonal"] == 0.0 and r["mean_abs_resid"] == 0.0 for r in rows)
