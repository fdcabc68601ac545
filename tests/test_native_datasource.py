"""cernan_native Python DataSource tests: file-per-partition reading,
decode semantics parity with the mapInPandas path, spool-tail behavior."""
from __future__ import annotations

import os
import struct
import tempfile

import pytest

from cernan_spark.sources.native_datasource import (
    CernanNativeDataSource,
    write_spool,
)


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(CernanNativeDataSource)
    return spark


def test_spool_roundtrip_and_partitioning(registered):
    spark = registered
    d = tempfile.mkdtemp(prefix="spool_t1_")
    rows = [
        {"conn": 0, "name": "a", "samples": [1.5, 2.5], "kind": "SUM", "ts_ms": 1999},
        {"conn": 1, "name": "b", "samples": [3.0], "kind": "SET", "ts_ms": 2000,
         "tags": {"h": "x"}, "persist": True},
        {"conn": 0, "name": "empty", "samples": [], "kind": "SUM", "ts_ms": 0},
        {"conn": 2, "name": "c", "samples": [-4.0], "kind": "SUMMARIZE", "ts_ms": 3500},
    ]
    write_spool(rows, d, 3)
    df = spark.read.format("cernan_native").load(d)
    assert df.rdd.getNumPartitions() == 3  # one per conn file
    got = df.orderBy("conn_id", "frame_idx", "sample_idx").collect()
    # empty-sample point dropped (native.rs:151-153); multi-sample explodes
    assert [(r.conn_id, r.frame_idx, r.name, r.sample_idx, r.value) for r in got] == [
        (0, 0, "a", 0, 1.5), (0, 0, "a", 1, 2.5),
        (1, 0, "b", 0, 3.0), (2, 0, "c", 0, -4.0),
    ]
    b = got[2]
    assert b.persist is True and dict(b.tags) == {"h": "x"} and b.event_epoch == 2
    assert got[3].event_epoch == 3  # int(3500*0.001)


def test_parity_with_mapinpandas_decode(registered):
    """The DataSource must produce byte-identical rows to the
    frames_from_stream → decode_native_frames path on the same spool."""
    spark = registered
    from cernan_spark.functions.framing import frames_from_stream
    from cernan_spark.functions.nativeproto import decode_native_frames

    d = tempfile.mkdtemp(prefix="spool_t2_")
    rows = [
        {"conn": c, "name": f"m{i%5}", "samples": [float(i), i / 2.0],
         "kind": ["SUM", "SET", "SUMMARIZE"][i % 3],
         "ts_ms": 1_700_000_000_000 + i * 37, "tags": {"k": str(i % 7)}}
        for i, c in enumerate([j % 2 for j in range(40)])
    ]
    write_spool(rows, d, 2)
    ds = spark.read.format("cernan_native").load(d)

    streams = []
    for c in (0, 1):
        with open(os.path.join(d, f"conn-{c}.bin"), "rb") as fh:
            streams.append((c, bytearray(fh.read())))
    raw = spark.createDataFrame(streams, "conn_id long, stream binary")
    legacy = decode_native_frames(frames_from_stream(raw))

    cols = ["conn_id", "frame_idx", "name", "sample_idx", "value", "kind",
            "persist", "event_epoch"]
    a = sorted(tuple(r[c] for c in cols) for r in ds.select(cols).collect())
    b = sorted(tuple(r[c] for c in cols) for r in legacy.select(cols).collect())
    assert a == b and len(a) == 80


def test_partial_trailing_frame_dropped_and_invalid_row(registered):
    spark = registered
    d = tempfile.mkdtemp(prefix="spool_t3_")
    write_spool(
        [{"conn": 0, "name": "ok", "samples": [1.0], "kind": "SUM", "ts_ms": 1000}],
        d, 1,
    )
    with open(os.path.join(d, "conn-0.bin"), "ab") as fh:
        fh.write(struct.pack(">I", 7) + b"\xff\xff")  # truncated tail frame
    df = spark.read.format("cernan_native").load(d)
    got = df.collect()
    assert len(got) == 1 and got[0].name == "ok"  # tail dropped, no error

    # a COMPLETE but malformed frame yields one 'invalid' row
    with open(os.path.join(d, "conn-0.bin"), "ab") as fh:
        bad = b"\x0c\xff\x03"
        fh.write(struct.pack(">I", len(bad)) + bad)
    got2 = spark.read.format("cernan_native").load(d).collect()
    kinds = sorted(r.record_kind for r in got2)
    assert kinds == ["invalid", "telemetry"]


def test_writer_roundtrip_partition_per_conn(registered, tmp_path):
    spark = registered
    out = str(tmp_path / "spool_out")
    df = spark.createDataFrame(
        [("a", [1.0, 2.0], "SUM", False, 1999, {"k": "v"}),
         ("b", [3.5], "SET", True, 2500, None)],
        "name string, samples array<double>, kind string, persist boolean, "
        "ts_ms long, tags map<string,string>",
    ).repartition(2)
    df.write.format("cernan_native").mode("overwrite").save(out)
    assert sorted(os.listdir(out)) == ["conn-0.bin", "conn-1.bin"]
    back = spark.read.format("cernan_native").load(out)
    got = {(r.name, r.sample_idx): r for r in back.collect()}
    assert got[("a", 0)].value == 1.0 and got[("a", 1)].value == 2.0
    assert got[("b", 0)].persist is True and got[("b", 0)].event_epoch == 2
    assert dict(got[("a", 0)].tags) == {"k": "v"}
    # overwrite replaces, never appends
    df.limit(1).repartition(1).write.format("cernan_native").mode(
        "overwrite"
    ).save(out)
    assert sorted(os.listdir(out)) == ["conn-0.bin"]


def test_stream_tails_new_frames_and_holds_partials(registered, tmp_path):
    spark = registered
    from cernan_spark.functions.nativeproto import (
        encode_payload,
        encode_telemetry,
    )

    sd = str(tmp_path / "spool_stream")
    write_spool(
        [{"conn": 0, "name": "s1", "samples": [1.0], "kind": "SUM", "ts_ms": 1000}],
        sd, 1,
    )
    q = (
        spark.readStream.format("cernan_native").load(sd)
        .writeStream.format("memory").queryName("natstream_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows1 = spark.sql("SELECT name FROM natstream_t").collect()
        assert [r.name for r in rows1] == ["s1"]
        # append: one complete frame, one partial (must be held back),
        # and a brand-new connection file (must be picked up)
        fr = encode_payload(
            points=[encode_telemetry("s2", [2.0], kind="SET", timestamp_ms=2000)]
        )
        with open(os.path.join(sd, "conn-0.bin"), "ab") as fh:
            fh.write(struct.pack(">I", len(fr)) + fr)
            fh.write(struct.pack(">I", 99) + b"partial")
        write_spool(
            [{"conn": 1, "name": "s3", "samples": [3.0], "kind": "SUM",
              "ts_ms": 3000}],
            sd, 2,
        )
        q.processAllAvailable()
        rows2 = sorted(
            r.name for r in spark.sql("SELECT name FROM natstream_t").collect()
        )
        assert rows2 == ["s1", "s2", "s3"]  # no dup of s1, no partial ghost
    finally:
        q.stop()


def _sorted_rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_conn_id_only_from_conn_file_names(registered, tmp_path):
    """A stray ``.bin`` that is not ``conn-<id>.bin`` is no connection:
    both readers skip it, rather than numbering it by listing order or -1."""
    spark = registered
    d = str(tmp_path / "spool_names")
    write_spool(
        [{"conn": 0, "name": "stray", "samples": [9.0], "kind": "SUM", "ts_ms": 0},
         {"conn": 1, "name": "real", "samples": [1.0], "kind": "SUM", "ts_ms": 1000}],
        d, 2,
    )
    os.rename(os.path.join(d, "conn-0.bin"), os.path.join(d, "a.bin"))
    batch = spark.read.format("cernan_native").load(d).collect()
    assert [(r.conn_id, r.name) for r in batch] == [(1, "real")]

    q = (
        spark.readStream.format("cernan_native").load(d)
        .writeStream.format("memory").queryName("natstream_names")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_names"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT conn_id, name FROM natstream_names").collect()
        assert [(r.conn_id, r.name) for r in got] == [(1, "real")]
    finally:
        q.stop()


def test_stream_rows_equal_batch_rows(registered, tmp_path):
    """Frames appended over two micro-batches (a multi-sample point, a
    point with no samples, a log line, a malformed complete frame, a frame
    split across the batches and a trailing partial frame) stream out as
    exactly the rows, all columns, the batch reader reads off the final
    spool: frame_idx carries across batches and the invalid row appears."""
    from cernan_spark.functions.nativeproto import (
        encode_logline,
        encode_payload,
        encode_telemetry,
        encode_telemetry_frame,
    )

    spark = registered
    sd = str(tmp_path / "spool_parity")
    os.makedirs(sd)
    multi = encode_telemetry_frame(
        "multi", [1.0, 2.5, -3.0], kind="SUMMARIZE", timestamp_ms=1999,
        metadata={"h": "x"}, bin_bounds=[1.0, 10.0],
    )
    empty = encode_payload(
        points=[encode_telemetry("empty", [], kind="SUM", timestamp_ms=5000)],
        lines=[encode_logline("/var/log/a", "hello", {"k": "v"}, 7250)],
    )
    empty = struct.pack(">I", len(empty)) + empty
    split = encode_telemetry_frame("split", [4.0, 5.0], kind="SET",
                                   persist=True, timestamp_ms=9999)
    bad = b"\x0c\xff\x03"
    with open(os.path.join(sd, "conn-0.bin"), "wb") as fh:
        fh.write(multi + empty + split[:7])

    q = (
        spark.readStream.format("cernan_native").load(sd)
        .writeStream.format("memory").queryName("natstream_parity")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_parity"))
        .start()
    )
    try:
        q.processAllAvailable()
        first = spark.table("natstream_parity").collect()
        assert {r.frame_idx for r in first} == {0, 1}
        with open(os.path.join(sd, "conn-0.bin"), "ab") as fh:
            fh.write(split[7:] + struct.pack(">I", len(bad)) + bad + multi)
            fh.write(struct.pack(">I", 50) + b"partial")
        q.processAllAvailable()
        streamed = _sorted_rows(spark.table("natstream_parity"))
    finally:
        q.stop()

    batch = _sorted_rows(spark.read.format("cernan_native").load(sd))
    assert streamed == batch
    assert sorted({(r[1], r[2]) for r in batch}) == [
        (0, "telemetry"), (1, "log"), (2, "telemetry"), (3, "invalid"),
        (4, "telemetry"),
    ]
    assert len(batch) == 3 + 1 + 2 + 1 + 3


def test_native_spool_ignores_a_stale_spool(spark, tmp_path, monkeypatch):
    """``native_spool`` writes its own spool on each call: a
    ``cernan_spool_<sf>`` directory an earlier run left in the temp
    directory (here a spool of one unrelated point) changes no row."""
    import __spark_entry__ as em

    sf = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "perfbench", "data", "sf0.001",
    )
    cols = ["conn_id", "frame_idx", "name", "sample_idx", "value", "kind",
            "event_epoch"]

    def rows(tmp):
        tmp.mkdir(exist_ok=True)
        monkeypatch.setattr(tempfile, "tempdir", str(tmp))
        return sorted(
            tuple(r) for r in em.q_native_spool(spark, sf).select(*cols).collect()
        )

    fresh = rows(tmp_path / "fresh")
    stale = tmp_path / "stale"
    write_spool(
        [{"conn": 0, "name": "stale", "samples": [1.0], "kind": "SUM", "ts_ms": 0}],
        str(stale / "cernan_spool_sf0.001"), 1,
    )
    assert fresh
    assert rows(stale) == fresh
