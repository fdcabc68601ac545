"""Hot-key skew handling: salts and two-phase operators must be correct
AND actually spread the hot key (the synthetic corpus puts ~20% of turns
in one conversation)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cernan_spark.operators.skew import with_salt
from cernan_spark.sources.transcripts import synthetic_transcripts


def test_salt_is_deterministic_and_spreads_hot_key(spark):
    t = synthetic_transcripts(spark, n_convs=50, turns_per_conv=40)
    hot = (
        t.groupBy("conv_id").count().orderBy(F.col("count").desc()).first()["conv_id"]
    )
    s1 = with_salt(t.filter(F.col("conv_id") == hot), n_salts=8)
    # the hot conversation's rows land on >1 salt bucket...
    n_buckets = s1.select(F.countDistinct("_salt")).collect()[0][0]
    assert n_buckets > 1
    # ...and the salt is a pure function of the order key (rerun-identical,
    # required for resumable writes)
    s2 = with_salt(t.filter(F.col("conv_id") == hot), n_salts=8)
    assert sorted(
        (r["order_key"], r["_salt"]) for r in s1.collect()
    ) == sorted((r["order_key"], r["_salt"]) for r in s2.collect())


def test_salted_topk_equals_plain_window(spark):
    """Two-phase salted Top-K returns exactly the single-window result,
    including on a hot group holding 80% of rows."""
    from pyspark.sql import Window as W

    from cernan_spark.operators.skew import salted_topk

    rows = [
        (i, "hot" if i % 5 else f"g{i % 7}", (i * 37) % 1000)
        for i in range(1, 2000)
    ]
    df = spark.createDataFrame(rows, "id long, grp string, score long")
    order = [F.col("score").desc(), F.col("id")]
    w = W.partitionBy("grp").orderBy(*order)
    plain = {
        (r["grp"], r["id"], r["rank"])
        for r in df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .collect()
    }
    salted = {
        (r["grp"], r["id"], r["rank"])
        for r in salted_topk(
            df, ["grp"], order, k=5, n_salts=8, salt_src="id"
        ).collect()
    }
    assert salted == plain and len(plain) > 0


def test_sessionize_chunked_equals_plain_window(spark):
    """The chunked segmented sessionization assigns every event the same
    session_idx as the plain per-user ordered window — hot user (80% of
    events), session boundaries placed adversarially at chunk edges."""
    import datetime as dt

    from pyspark.sql import Window as W

    from cernan_spark.operators.skew import sessionize_chunked

    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(1, 1200):
        user = 7 if i % 5 else i % 3
        # gaps alternate: mostly 60 s, every 13th event jumps >30 min
        step = 60 if i % 13 else 2400
        rows.append((i, user, base + dt.timedelta(seconds=i * step)))
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    w = W.partitionBy("user_id").orderBy("event_id")
    gap = F.unix_timestamp("ts") - F.lag(F.unix_timestamp("ts")).over(w)
    plain = {
        (r["user_id"], r["event_id"], r["session_idx"])
        for r in df.withColumn(
            "new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
        )
        .withColumn(
            "session_idx",
            F.sum("new_sess").over(w.rowsBetween(W.unboundedPreceding, 0)),
        )
        .collect()
    }
    for chunks in (1, 7, 64):
        chunked = {
            (r["user_id"], r["event_id"], r["session_idx"])
            for r in sessionize_chunked(df, chunks=chunks).collect()
        }
        assert chunked == plain


def test_sessionize_chunked_empty_frame(spark):
    from cernan_spark.operators.skew import sessionize_chunked

    df = spark.createDataFrame([], "event_id long, user_id long, ts timestamp")
    assert sessionize_chunked(df).count() == 0


def test_sessionize_resume_equals_one_pass_at_boundary(spark):
    """Sessions straddling the split must merge; closed ones must not.
    Construct: user 1 has events at T-100, T+50 (same session across the
    boundary); user 2 ends at T-5000 (closed) and restarts at T+10."""
    import datetime as dt
    from pyspark.sql import functions as F
    from cernan_spark.operators.skew import sessionize_resume

    T = 1705276800
    rows = [
        (1, 10, T - 100), (1, 11, T + 50),            # one merged session
        (1, 12, T + 50 + 3000),                        # new session (gap>1800)
        (2, 20, T - 5000), (2, 21, T + 10),            # closed + fresh
        (3, 30, T - 1800), (3, 31, T - 1700),          # open but no day-2 rows
    ]
    df = spark.createDataFrame(
        [(u, e, dt.datetime.utcfromtimestamp(s)) for u, e, s in rows],
        "user_id long, event_id long, ts timestamp",
    )
    got = sorted(
        (r.user_id, r.start_s, r.end_s, r.n_events)
        for r in sessionize_resume(df, split_epoch=T, gap_s=1800).collect()
    )
    assert got == [
        (1, T - 100, T + 50, 2),
        (1, T + 3050, T + 3050, 1),
        (2, T - 5000, T - 5000, 1),
        (2, T + 10, T + 10, 1),
        (3, T - 1800, T - 1700, 2),
    ]


def test_attribution_window_and_strictly_before(spark):
    import datetime as dt
    from cernan_spark.operators.behavior import attribute_conversions

    T = 1705276800
    rows = [
        (1, 1, "view", T),          # touch
        (1, 2, "purchase", T + 100),   # attributed to event 1
        (1, 3, "purchase", T + 4000),  # view too old (>3600) -> unattributed
        (2, 4, "purchase", T),         # no prior view at all
        (2, 5, "view", T + 1),         # AFTER the purchase -> must not credit
    ]
    df = spark.createDataFrame(
        [(u, e, k, dt.datetime.utcfromtimestamp(s)) for u, e, k, s in rows],
        "user_id long, event_id long, event_type string, ts timestamp",
    )
    got = {
        r.conv_order: (r.touch_order, r.latency_s, r.attributed)
        for r in attribute_conversions(df).collect()
    }
    assert got[2] == (1, 100, 1)
    assert got[3] == (None, None, 0)
    assert got[4] == (None, None, 0)


def test_gini_concentration_hand_models(spark):
    """Uniform load gives Gini 0; an extreme one-hot load approaches
    (n-1)/n; a hand-computed mixed case matches exactly."""
    from cernan_spark.operators.skew import gini_concentration

    uniform = spark.createDataFrame(
        [(k, i) for k in range(10) for i in range(5)], "k long, junk long"
    )
    g = gini_concentration(uniform, ["k"]).first()
    assert g["n_keys"] == 10 and g["total_rows"] == 50
    assert g["gini"] == 0.0 and g["top1_share"] == 0.1

    onehot = spark.createDataFrame(
        [(0, i) for i in range(96)] + [(1, 0), (2, 0), (3, 0), (4, 0)],
        "k long, junk long",
    )
    g = gini_concentration(onehot, ["k"]).first()
    # loads sorted: [1,1,1,1,96]; gini = (2*(1+2+3+4+5*96) - 6*100)/(5*100)
    expect = (2 * (1 + 2 + 3 + 4 + 5 * 96) - 6 * 100) / (5 * 100)
    assert g["gini"] == round(expect, 6)
    assert g["max_rows"] == 96 and g["top1_share"] == 0.96


def test_fair_share_alloc_hand_model(spark):
    """Classic water-filling: demands [2,3,10,20], capacity 16 →
    2 and 3 fully satisfied, the remaining 11 splits 5.5/5.5."""
    from cernan_spark.operators.skew import fair_share_alloc

    df = spark.createDataFrame(
        [("a", 2), ("b", 3), ("c", 10), ("d", 20)], "k string, demand long"
    )
    out = {r["k"]: r for r in fair_share_alloc(df, ["k"], "demand", 16).collect()}
    assert out["a"]["allocated"] == 2.0 and bool(out["a"]["saturated"])
    assert out["b"]["allocated"] == 3.0 and bool(out["b"]["saturated"])
    assert out["c"]["allocated"] == 5.5 and not out["c"]["saturated"]
    assert out["d"]["allocated"] == 5.5 and not out["d"]["saturated"]


def test_fair_share_alloc_abundant_and_scarce(spark):
    """Capacity above total demand saturates everyone; scarce capacity
    gives the pure equal split."""
    from cernan_spark.operators.skew import fair_share_alloc

    df = spark.createDataFrame(
        [("a", 5), ("b", 7)], "k string, demand long"
    )
    rich = {r["k"]: r for r in fair_share_alloc(df, ["k"], "demand", 100).collect()}
    assert rich["a"]["allocated"] == 5.0 and rich["b"]["allocated"] == 7.0
    poor = {r["k"]: r for r in fair_share_alloc(df, ["k"], "demand", 8).collect()}
    assert poor["a"]["allocated"] == 4.0 and poor["b"]["allocated"] == 4.0
    assert not poor["a"]["saturated"] and not poor["b"]["saturated"]
