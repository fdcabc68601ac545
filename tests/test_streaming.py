"""Structured Streaming: windowed aggregation with watermark (append =
complete bins only), stateful gauge across micro-batches."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from cernan_spark.streaming.pipeline import (
    stream_transcripts,
    streaming_bucket_aggregate,
    streaming_gauge,
    streaming_parse,
)


@pytest.fixture()
def stream_dir(spark):
    d = tempfile.mkdtemp(prefix="stream_test_")
    rows = [
        # (conv, turn, role, text, tool, ts, order_key)
        ("c1", 0, "user", "cnt:1|c", "none", "2024-01-01 00:00:05", 1),
        ("c1", 1, "user", "cnt:2|c", "none", "2024-01-01 00:00:30", 2),
        ("c1", 2, "user", "cnt:4|c", "none", "2024-01-01 00:01:10", 3),
        ("c1", 3, "user", "g1:5|g", "none", "2024-01-01 00:01:20", 4),
        ("c1", 4, "user", "g1:+2|g", "none", "2024-01-01 00:01:25", 5),
        # much later row advances the watermark past the first windows
        ("c1", 5, "user", "cnt:8|c", "none", "2024-01-01 01:00:00", 6),
    ]
    df = spark.createDataFrame(
        [(c, t, r, x, tl, ts, o) for c, t, r, x, tl, ts, o in rows],
        "conv_id string, turn_idx int, role string, text string, tool string, ts_s string, order_key long",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s").select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts", "order_key"
    )
    df.coalesce(1).write.mode("overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_streaming_windowed_agg_append(spark, stream_dir):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    parsed = streaming_parse(stream_transcripts(spark, stream_dir))
    agg = streaming_bucket_aggregate(parsed, bin_width=60, watermark="5 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("agg_out")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT name, kind, window.start AS ws, sum_value, n_points FROM agg_out"
        ).collect()
    finally:
        q.stop()
    got = {(r["name"], str(r["ws"])): (r["sum_value"], r["n_points"]) for r in rows}
    # append mode emitted only bins the watermark has passed (the 01:00:00
    # window is still open → absent), mirroring FlushBoundaryFilter
    assert got[("cnt", "2024-01-01 00:00:00")] == (3.0, 2)
    assert got[("cnt", "2024-01-01 00:01:00")] == (4.0, 1)
    assert ("cnt", "2024-01-01 01:00:00") not in got


def test_streaming_gauge_state(spark, stream_dir):
    parsed = streaming_parse(stream_transcripts(spark, stream_dir))
    g = streaming_gauge(parsed)
    q = (
        g.writeStream.outputMode("update")
        .format("memory")
        .queryName("gauge_out")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT name, running_value, n_events FROM gauge_out"
        ).collect()
    finally:
        q.stop()
    last = {r["name"]: (r["running_value"], r["n_events"]) for r in rows}
    # g1:5|g then delta +2 → 7.0 (set-then-add fold, buckets.rs:240-309)
    assert last["g1"] == (7.0, 2)


def test_streaming_late_data_dropped_after_watermark(spark, stream_dir):
    """DelayFilter semantics in streaming: once the watermark passes a
    window, late arrivals for it are DROPPED — the emitted bin never
    changes (delay_filter.rs:52-81 ↔ withWatermark + append mode)."""
    import pyspark.sql.functions as F_

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    parsed = streaming_parse(stream_transcripts(spark, stream_dir))
    agg = streaming_bucket_aggregate(parsed, bin_width=60, watermark="5 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_out")
        .start()
    )
    try:
        q.processAllAvailable()
        before = {
            (r["name"], str(r["ws"])): (r["sum_value"], r["n_points"])
            for r in spark.sql(
                "SELECT name, window.start AS ws, sum_value, n_points FROM late_out"
            ).collect()
        }
        # a late row lands in the long-closed 00:00 window (watermark is
        # already at 01:00:00 - 5min from the fixture's last row)
        late = spark.createDataFrame(
            [("c9", 0, "user", "cnt:100|c", "none", "2024-01-01 00:00:10", 99)],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts_s string, order_key long",
        ).withColumn("ts", F_.col("ts_s").cast("timestamp")).drop("ts_s").select(
            "conv_id", "turn_idx", "role", "text", "tool", "ts", "order_key"
        )
        late.coalesce(1).write.mode("append").parquet(stream_dir)
        q.processAllAvailable()
        after = {
            (r["name"], str(r["ws"])): (r["sum_value"], r["n_points"])
            for r in spark.sql(
                "SELECT name, window.start AS ws, sum_value, n_points FROM late_out"
            ).collect()
        }
    finally:
        q.stop()
    # the closed 00:00 bin is unchanged: the late 100-count never lands
    assert after[("cnt", "2024-01-01 00:00:00")] == (3.0, 2)
    assert after == before


def test_batch_streaming_equivalence_gate(spark):
    """VERDICT r2 ask #4: the same corpus through the streaming path
    (availableNow micro-batches, watermark, append mode) and the batch
    one-pass aggregate yields identical (name, kind, bin) rows — sums and
    counts — over the bins append mode finalizes."""
    import __spark_entry__ as em

    sf = "/root/testdata/sf0.001"
    streamed = {
        (r["name"], r["kind"], r["bin"], r["sum_value"], r["n_points"])
        for r in em.q_streaming_bucket_sums(spark, sf).collect()
    }
    assert streamed, "streaming emitted nothing"

    from cernan_spark.operators.aggregate import bucket_aggregate_onepass

    p = em._parsed(spark, sf)
    batch = bucket_aggregate_onepass(p, bin_width=300)
    emitted_bins = {b for (_, _, b, _, _) in streamed}
    got = {
        (
            r["name"],
            r["kind"],
            r["bin"],
            round(r["agg_value"], 4) if r["kind"] == "SUM" else None,
            r["n_points"],
        )
        for r in batch.collect()
        if r["bin"] in emitted_bins
    }
    assert got == streamed


def test_batch_streaming_gauge_equivalence(spark, tmp_path):
    """Stateful-gauge batch≡streaming gate: the applyInPandasWithState
    fold's final running value per series (across THREE pinned-order
    micro-batches) equals the batch gauge_carry_forward fold over the same
    corpus with one bin spanning it all — cernan's persist semantics
    (buckets.rs:240-309) hold identically on both paths."""
    import glob
    import os
    import uuid

    from cernan_spark.functions.statsd import parse_statsd_lines
    from cernan_spark.operators.aggregate import gauge_carry_forward

    rows = []
    for i in range(300):
        series = f"g{i % 10}"
        if i % 7 == 0:
            text = f"{series}:{(i % 50) + 1}|g"          # SET (replace)
        elif i % 3 == 0:
            text = f"{series}:-{(i % 5) + 1}|g"          # delta down (SUM)
        else:
            text = f"{series}:+{(i % 4) + 1}|g"          # delta up (SUM)
        rows.append(("c1", i, "user", text, "none", i))
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, order_key long",
    ).withColumn(
        "ts", F.timestamp_seconds(F.lit(1704067200) + F.col("order_key"))
    ).select("conv_id", "turn_idx", "role", "text", "tool", "ts", "order_key")

    # three files landing in order_key order (strictly increasing mtimes:
    # FileStreamSource consumes by (mtime, path))
    d = str(tmp_path / "gauge_stream")
    stamped: set[str] = set()
    for part in range(3):
        df.filter(
            (F.col("order_key") >= part * 100)
            & (F.col("order_key") < (part + 1) * 100)
        ).coalesce(1).write.mode("append").parquet(d)
        for f in glob.glob(f"{d}/part-*.parquet"):
            if f not in stamped:
                os.utime(f, (1_700_000_000 + part, 1_700_000_000 + part))
                stamped.add(f)

    qname = f"gauge_eq_{uuid.uuid4().hex[:8]}"
    parsed = streaming_parse(stream_transcripts(spark, d, max_files_per_trigger=1))
    q = (
        streaming_gauge(parsed)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update mode appends one row per (series, batch); the final state per
    # series is the row with the highest (monotonic) n_events
    stream_final = {
        r["name"]: (r["running_value"], r["n_events"])
        for r in spark.sql(
            f"SELECT name, max_by(running_value, n_events) AS running_value, "
            f"max(n_events) AS n_events FROM {qname} GROUP BY name"
        ).collect()
    }

    batch = parse_statsd_lines(df, line_col="text").filter(F.col("persist"))
    one_bin = gauge_carry_forward(batch, bin_width=1 << 40, key_cols=["name"])
    batch_final = {
        r["name"]: (r["gauge_value"], r["n_points"]) for r in one_bin.collect()
    }
    assert len(stream_final) == 10
    assert stream_final == batch_final


def test_streaming_exact_dedup_first_seen(spark, tmp_path):
    """Streaming dedup gate: across THREE pinned-order micro-batches with
    duplicates inside a batch AND across batches, the stateful fold emits
    exactly the batch dedup canon (content hash → min doc_id of its first
    arrival batch), each distinct text exactly once."""
    import glob
    import os
    import uuid

    from cernan_spark.streaming.pipeline import streaming_exact_dedup

    texts = [f"document body {i % 8}" for i in range(60)]  # 8 distinct
    rows = [(i, texts[i]) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    d = str(tmp_path / "dedup_stream")
    stamped: set[str] = set()
    for part in range(3):
        df.filter(
            (F.col("doc_id") >= part * 20) & (F.col("doc_id") < (part + 1) * 20)
        ).coalesce(1).write.mode("append").parquet(d)
        for f in glob.glob(f"{d}/part-*.parquet"):
            if f not in stamped:
                os.utime(f, (1_700_000_000 + part, 1_700_000_000 + part))
                stamped.add(f)

    qname = f"dedup_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    q = (
        streaming_exact_dedup(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r["content_hash"], r["doc_id"])
        for r in spark.sql(f"SELECT * FROM {qname}").collect()
    }
    # batch canon: every distinct text's minimum doc_id — which here is
    # also each hash's first-batch arrival since ids increase with batches
    batch = {
        (r["content_hash"], r["doc_id"])
        for r in df.select(
            F.xxhash64("text").alias("content_hash"), "doc_id"
        )
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"))
        .collect()
    }
    assert streamed == batch
    assert len(streamed) == 8  # each distinct text emitted exactly once


def test_streaming_dedup_owner_min_across_arrow_chunks(spark, tmp_path):
    """A hash group larger than the Arrow batch size reaches the stateful
    fold as MULTIPLE pandas chunks within ONE micro-batch; the emitted
    owner must be the min doc_id across all of them. Rows are written in
    DESCENDING id order so the true owner lands in the LAST chunk — a fold
    that pins the owner from the first chunk emits 59 instead of 3."""
    import uuid

    from cernan_spark.streaming.pipeline import streaming_exact_dedup

    rows = [(i, "the one boilerplate footer") for i in range(59, 2, -1)]
    d = str(tmp_path / "chunked_stream")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.parquet(d)

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "5")
    try:
        qname = f"chunked_{uuid.uuid4().hex[:8]}"
        stream = spark.readStream.schema("doc_id long, text string").parquet(d)
        q = (
            streaming_exact_dedup(stream)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName(qname)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = [r["doc_id"] for r in spark.sql(f"SELECT * FROM {qname}").collect()]
        assert got == [3]
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_streaming_session_windows_append(spark, stream_dir):
    """Session windows merge events with gaps < gap and emit once the
    watermark passes the session end: the first burst (00:00:05-00:01:25,
    gaps < 60s) is ONE session [00:00:05, 00:02:25); the 01:00:00 row is
    a separate session, still open -> absent in append output."""
    from cernan_spark.streaming.pipeline import streaming_session_aggregate

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    parsed = streaming_parse(stream_transcripts(spark, stream_dir))
    agg = streaming_session_aggregate(parsed, gap=60, watermark="5 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_out")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT conv_id, session_window.start AS ss, "
            "session_window.end AS se, n_events, sum_value FROM sess_out"
        ).collect()
    finally:
        q.stop()
    assert len(rows) == 1
    r = rows[0]
    assert str(r["ss"]) == "2024-01-01 00:00:05"
    # end = last event (00:01:25) + 60s gap
    assert str(r["se"]) == "2024-01-01 00:02:25"
    # 5 events merged; sum over SUM kinds: counters 1+2+4 plus the
    # signed gauge +2 (SUM by the signed-gauge law); g1:5|g is SET
    assert r["n_events"] == 5
    assert r["sum_value"] == 9.0


def test_streaming_late_drop_accounting(spark, stream_dir):
    """cernan counts delay-filter rejects (delay_filter.rs telemetry);
    the streaming analog is the state operator's
    numRowsDroppedByWatermark metric - assert the late row is ACCOUNTED,
    not just silently absent from the output."""
    import pyspark.sql.functions as F_

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    parsed = streaming_parse(stream_transcripts(spark, stream_dir))
    agg = streaming_bucket_aggregate(parsed, bin_width=60, watermark="5 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_acct")
        .start()
    )
    try:
        q.processAllAvailable()
        late = spark.createDataFrame(
            [("c9", 0, "user", "cnt:100|c", "none", "2024-01-01 00:00:10", 99)],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts_s string, order_key long",
        ).withColumn("ts", F_.col("ts_s").cast("timestamp")).drop("ts_s").select(
            "conv_id", "turn_idx", "role", "text", "tool", "ts", "order_key"
        )
        late.coalesce(1).write.mode("append").parquet(stream_dir)
        q.processAllAvailable()
        dropped = sum(
            op["numRowsDroppedByWatermark"]
            for p in q.recentProgress
            for op in p["stateOperators"]
        )
    finally:
        q.stop()
    assert dropped == 1


def test_streaming_hopping_windows(spark, stream_dir):
    """The hopping-window expression runs unchanged under readStream:
    sliding 60s-by-20s windows, watermarked, append mode. The first
    fixture row (00:00:05, cnt:1) must appear in all 3 covering windows
    once the watermark passes them."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    parsed = streaming_parse(stream_transcripts(spark, stream_dir))
    agg = (
        parsed.withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", "60 seconds", "20 seconds"), "name")
        .agg(F.sum("value").alias("sum_value"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("hop_out")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT name, window.start AS ws, sum_value FROM hop_out "
            "WHERE name = 'cnt'"
        ).collect()
    finally:
        q.stop()
    got = {str(r["ws"]): r["sum_value"] for r in rows}
    # covering starts for t are the multiples of 20 in (t-60, t]:
    # 00:00:05 (cnt:1) -> 23:59:20/23:59:40/00:00:00;
    # 00:00:30 (cnt:2) -> 23:59:40/00:00:00/00:00:20;
    # 00:01:10 (cnt:4) -> 00:00:20/00:00:40/00:01:00
    assert got["2023-12-31 23:59:20"] == 1.0
    assert got["2023-12-31 23:59:40"] == 3.0
    assert got["2024-01-01 00:00:00"] == 3.0
    assert got["2024-01-01 00:00:20"] == 6.0
    assert got["2024-01-01 00:00:40"] == 4.0
    assert got["2024-01-01 00:01:00"] == 4.0


def test_stream_stream_interval_join_cross_batch(spark, tmp_path):
    """A purchase arriving in a LATER micro-batch must still join a
    view buffered from an earlier batch (state held under the
    watermark); out-of-window pairs must not appear."""
    import datetime as dt
    import glob
    import os
    import uuid

    from pyspark.sql import functions as F

    from cernan_spark.streaming.pipeline import streaming_interval_join

    t0 = dt.datetime(2024, 1, 1)
    views = [(1, 10, t0), (2, 20, t0)]
    convs = [
        (1, 11, t0 + dt.timedelta(seconds=100)),   # batch 2, joins view 10
        (2, 21, t0 + dt.timedelta(seconds=7200)),  # out of 1h window
    ]

    def spool(rows, schema, batches):
        d = str(tmp_path / uuid.uuid4().hex)
        os.makedirs(d)
        stamped = []
        for i, batch in enumerate(batches):
            spark.createDataFrame([rows[j] for j in batch], schema).coalesce(
                1
            ).write.mode("append").parquet(d)
            for f in glob.glob(f"{d}/part-*.parquet"):
                if f not in stamped:
                    os.utime(f, (1_700_000_000 + i,) * 2)
                    stamped.append(f)
        return d

    vdir = spool(views, "v_user long, view_id long, v_ts timestamp", [[0], [1]])
    cdir = spool(convs, "c_user long, conv_id long, c_ts timestamp", [[], [0, 1]])
    vs = (
        spark.readStream.schema("v_user long, view_id long, v_ts timestamp")
        .option("maxFilesPerTrigger", 1).parquet(vdir)
    )
    cs = (
        spark.readStream.schema("c_user long, conv_id long, c_ts timestamp")
        .option("maxFilesPerTrigger", 1).parquet(cdir)
    )
    cond = (
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 3600 SECONDS"))
    )
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_interval_join(vs, cs, cond, "v_ts", "c_ts", 10 * 24 * 3600)
        .select("view_id", "conv_id")
        .writeStream.outputMode("append").format("memory")
        .queryName(name).trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = [(r.view_id, r.conv_id) for r in spark.table(name).collect()]
    assert got == [(10, 11)]


def test_drop_duplicates_within_watermark_builtin(spark, tmp_path):
    """Spark's BUILT-IN bounded-state dedup (dropDuplicatesWithinWatermark)
    — the prefer-built-in twin of streaming_exact_dedup: a duplicate key
    arriving within the watermark horizon is suppressed; one arriving
    after the state for its key has aged out (event time far beyond the
    watermark) is emitted AGAIN. That re-emission is exactly the bounded
    -state tradeoff the custom first-seen fold avoids by keeping state
    forever — this test pins the boundary between the two."""
    import glob
    import os
    import uuid

    # batch 0: keys a,b at t=0s; batch 1: dup 'a' at t=5s (inside the 10s
    # watermark -> suppressed). batch 2 ('c' at t=10000s) advances the
    # watermark; dedup lookups happen BEFORE eviction within a batch, so
    # the 'a' in batch 3 is still suppressed while batch 3's END evicts
    # the aged state — only the 'a' in batch 4 is emitted again.
    rows = [
        (0, [("a", 0), ("b", 0)]),
        (1, [("a", 5)]),
        (2, [("c", 10_000)]),
        (3, [("a", 10_001)]),
        (4, [("a", 10_002)]),
    ]
    d = str(tmp_path / "wm_dedup_stream")
    stamped: set[str] = set()
    for part, batch in rows:
        spark.createDataFrame(
            [(k, 1_700_000_000 + s) for k, s in batch], "k string, sec long"
        ).coalesce(1).write.mode("append").parquet(d)
        for f in glob.glob(f"{d}/part-*.parquet"):
            if f not in stamped:
                os.utime(f, (1_700_000_000 + part, 1_700_000_000 + part))
                stamped.add(f)

    qname = f"wmdedup_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema("k string, sec long")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .select("k", F.timestamp_seconds("sec").alias("ts"))
        .withWatermark("ts", "10 seconds")
        .dropDuplicatesWithinWatermark(["k"])
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = [(r["k"], r["ts"]) for r in spark.sql(f"SELECT * FROM {qname}").collect()]
    ks = sorted(r[0] for r in got)
    # a (first), b, c, and a AGAIN after its state aged out = 4 rows
    assert ks == ["a", "a", "b", "c"], got
