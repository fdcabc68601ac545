"""Native-protocol protobuf payload codec (pure Python, Arrow-batched).

Reference wire format (/root/reference/resources/protobufs/native.proto:42-100,
decode mapping /root/reference/src/source/native.rs:134-203):

    Payload   { repeated Telemetry points = 2; repeated LogLine lines = 3; }
    Telemetry { name=1 string; samples=2 packed double; persisted=3 bool;
                method=4 enum(SUM=1,SET=2,SUMMARIZE=3,BIN=4);
                metadata=5 map<string,string>; timestamp_ms=6 int64;
                bin_bounds=7 packed double; }
    LogLine   { path=1 string; value=2 string; metadata=3 map<string,string>;
                timestamp_ms=4 int64; }

No protobuf library exists in this image; the format is proto2's simple
varint + length-delimited TLV, so the codec here is ~100 lines of plain
Python. Unknown fields are skipped per proto2 rules; repeated doubles are
accepted both packed (wire type 2) and unpacked (wire type 1).

`frame_rows` is the one frame → rows step: ``decode_native_frames`` runs it
inside ``mapInPandas`` over Arrow batches (one Python call per batch, not
per row), and both ``cernan_native`` readers (sources/native_datasource.py)
run it per spool frame. Its semantics mirror native.rs exactly: points with
no samples are dropped (native.rs:151-153); the first sample seeds the
Telemetry and the rest are ``insert``ed (native.rs:156,176-178) — in the
DataFrame model that is one row per sample, merged downstream by the
per-kind bucket laws; ``ts = (timestamp_ms as f64 * 0.001) as i64``
(native.rs:149, FIXME #166 float-truncation kept bit-for-bit); a malformed
frame is one ``record_kind='invalid'`` row (native.rs:198-202 logs and
drops it). `encode_telemetry_frame` is the matching spool-frame encoder.
"""

from __future__ import annotations

import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

_METHOD_TO_KIND = {1: "SUM", 2: "SET", 3: "SUMMARIZE", 4: "HISTOGRAM"}
_KIND_TO_METHOD = {v: k for k, v in _METHOD_TO_KIND.items()}


# ---------------------------------------------------------------------------
# varint / TLV primitives
# ---------------------------------------------------------------------------

def _enc_uvarint(n: int) -> bytes:
    if n < 0:  # int64 negatives are 10-byte two's-complement varints
        n += 1 << 64
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _dec_uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    shift, result = 0, 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint too long")


def _key(field: int, wire_type: int) -> bytes:
    return _enc_uvarint((field << 3) | wire_type)


def _len_delim(field: int, payload: bytes) -> bytes:
    return _key(field, 2) + _enc_uvarint(len(payload)) + payload


def _str_field(field: int, s: str) -> bytes:
    return _len_delim(field, s.encode("utf-8"))


def _map_entries(field: int, m: dict[str, str] | None) -> bytes:
    out = bytearray()
    for k in sorted(m or {}):
        entry = _str_field(1, k) + _str_field(2, m[k])
        out += _len_delim(field, entry)
    return bytes(out)


def _packed_doubles(field: int, vals) -> bytes:
    if vals is None or len(vals) == 0:
        return b""
    return _len_delim(field, struct.pack(f"<{len(vals)}d", *vals))


# ---------------------------------------------------------------------------
# message encode
# ---------------------------------------------------------------------------

def encode_telemetry(
    name: str,
    samples,
    kind: str = "SUMMARIZE",
    persist: bool = False,
    metadata: dict[str, str] | None = None,
    timestamp_ms: int | None = None,
    bin_bounds=None,
) -> bytes:
    out = bytearray(_str_field(1, name))
    out += _packed_doubles(2, samples)
    if persist:
        out += _key(3, 0) + _enc_uvarint(1)
    out += _key(4, 0) + _enc_uvarint(_KIND_TO_METHOD[kind])
    out += _map_entries(5, metadata)
    if timestamp_ms is not None:
        out += _key(6, 0) + _enc_uvarint(int(timestamp_ms))
    out += _packed_doubles(7, bin_bounds)
    return bytes(out)


def encode_logline(
    path: str,
    value: str,
    metadata: dict[str, str] | None = None,
    timestamp_ms: int | None = None,
) -> bytes:
    out = bytearray(_str_field(1, path) + _str_field(2, value))
    out += _map_entries(3, metadata)
    if timestamp_ms is not None:
        out += _key(4, 0) + _enc_uvarint(int(timestamp_ms))
    return bytes(out)


def encode_payload(points: list[bytes] = (), lines: list[bytes] = ()) -> bytes:
    out = bytearray()
    for p in points:
        out += _len_delim(2, p)
    for ln in lines:
        out += _len_delim(3, ln)
    return bytes(out)


def encode_telemetry_frame(name: str, samples, **telemetry) -> bytes:
    """One Payload holding one Telemetry (``encode_telemetry`` arguments),
    u32-BE length-prefixed: the frame a spool file holds."""
    frame = encode_payload(points=[encode_telemetry(name, samples, **telemetry)])
    return struct.pack(">I", len(frame)) + frame


# ---------------------------------------------------------------------------
# message decode
# ---------------------------------------------------------------------------

def _walk(buf: bytes) -> Iterator[tuple[int, int, object]]:
    """Yield (field, wire_type, value) triples; skips nothing — the caller
    ignores unknown fields (proto2 skip rule)."""
    pos, n = 0, len(buf)
    while pos < n:
        tag, pos = _dec_uvarint(buf, pos)
        field, wt = tag >> 3, tag & 7
        if wt == 0:
            v, pos = _dec_uvarint(buf, pos)
        elif wt == 1:
            v = buf[pos : pos + 8]
            pos += 8
        elif wt == 2:
            ln, pos = _dec_uvarint(buf, pos)
            v = buf[pos : pos + ln]
            pos += ln
        elif wt == 5:
            v = buf[pos : pos + 4]
            pos += 4
        else:
            raise ValueError(f"unsupported wire type {wt}")
        yield field, wt, v


def _dec_map_entry(buf: bytes) -> tuple[str, str]:
    k = v = ""
    for field, wt, val in _walk(buf):
        if field == 1 and wt == 2:
            k = val.decode("utf-8")
        elif field == 2 and wt == 2:
            v = val.decode("utf-8")
    return k, v


def _dec_doubles(wt: int, val) -> list[float]:
    if wt == 2:  # packed
        return list(struct.unpack(f"<{len(val) // 8}d", val))
    if wt == 1:  # unpacked single
        return [struct.unpack("<d", val)[0]]
    raise ValueError("bad double encoding")


def _to_i64(v: int) -> int:
    return v - (1 << 64) if v >= 1 << 63 else v


def decode_telemetry(buf: bytes) -> dict:
    out = {
        "name": "", "samples": [], "persist": False, "kind": "SUMMARIZE",
        "metadata": {}, "timestamp_ms": 0, "bin_bounds": [],
    }
    for field, wt, val in _walk(buf):
        if field == 1 and wt == 2:
            out["name"] = val.decode("utf-8")
        elif field == 2:
            out["samples"].extend(_dec_doubles(wt, val))
        elif field == 3 and wt == 0:
            out["persist"] = bool(val)
        elif field == 4 and wt == 0:
            out["kind"] = _METHOD_TO_KIND.get(val, "SUMMARIZE")
        elif field == 5 and wt == 2:
            k, v = _dec_map_entry(val)
            out["metadata"][k] = v
        elif field == 6 and wt == 0:
            out["timestamp_ms"] = _to_i64(val)
        elif field == 7:
            out["bin_bounds"].extend(_dec_doubles(wt, val))
    return out


def decode_logline(buf: bytes) -> dict:
    out = {"path": "", "value": "", "metadata": {}, "timestamp_ms": 0}
    for field, wt, val in _walk(buf):
        if field == 1 and wt == 2:
            out["path"] = val.decode("utf-8")
        elif field == 2 and wt == 2:
            out["value"] = val.decode("utf-8")
        elif field == 3 and wt == 2:
            k, v = _dec_map_entry(val)
            out["metadata"][k] = v
        elif field == 4 and wt == 0:
            out["timestamp_ms"] = _to_i64(val)
    return out


def decode_payload(buf: bytes) -> tuple[list[dict], list[dict]]:
    points, lines = [], []
    for field, wt, val in _walk(buf):
        if field == 2 and wt == 2:
            points.append(decode_telemetry(val))
        elif field == 3 and wt == 2:
            lines.append(decode_logline(val))
    return points, lines


# ---------------------------------------------------------------------------
# DataFrame operators
# ---------------------------------------------------------------------------

DECODED_SCHEMA = (
    "conn_id long, frame_idx int, record_kind string, name string, "
    "sample_idx int, value double, kind string, persist boolean, "
    "event_epoch long, tags map<string,string>, bounds array<double>, "
    "path string, payload string"
)
_DECODED_COLUMNS = [f.split(" ", 1)[0] for f in DECODED_SCHEMA.split(", ")]


def frame_rows(conn_id: int, frame_idx: int, frame: bytes) -> list[tuple]:
    """The ``DECODED_SCHEMA`` rows of one length-stripped frame: one
    telemetry row per sample (native.rs:151-178 multi-sample insert), none
    for a point with no samples (native.rs:151-153), one row per log line. A malformed frame
    yields ONE ``record_kind='invalid'`` row instead of failing the job —
    the reference logs and drops bad payloads (native.rs:198-202 returns
    Err), it never aborts the accept loop."""
    try:
        points, lines = decode_payload(frame)
    except Exception:  # noqa: BLE001 — malformed wire bytes
        return [(conn_id, frame_idx, "invalid") + (None,) * 10]
    rows = []
    for p in points:
        epoch = int(p["timestamp_ms"] * 0.001)  # native.rs:149
        for i, s in enumerate(p["samples"]):
            rows.append((conn_id, frame_idx, "telemetry", p["name"], i, s,
                         p["kind"], p["persist"], epoch, p["metadata"],
                         p["bin_bounds"] or None, None, None))
    for ln in lines:
        rows.append((conn_id, frame_idx, "log", None, None, None, None, None,
                     int(ln["timestamp_ms"] * 0.001), ln["metadata"],
                     None, ln["path"], ln["value"]))
    return rows


def decode_native_frames(frames: DataFrame, frame_col: str = "frame") -> DataFrame:
    """Decode length-stripped native frames (frames_from_stream output) into
    `frame_rows`' telemetry, log and invalid rows. Arrow-batched."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for cid, fidx, blob in zip(
                pdf["conn_id"], pdf["frame_idx"], pdf[frame_col]
            ):
                rows += frame_rows(cid, fidx, bytes(blob))
            yield pd.DataFrame(rows, columns=_DECODED_COLUMNS)

    return frames.mapInPandas(run, DECODED_SCHEMA)


def telemetry_to_native_frames(
    df: DataFrame,
    name_col: str = "name",
    samples_col: str = "samples",
    kind_col: str = "kind",
    persist_col: str | None = None,
    ts_ms_col: str | None = None,
    tags_col: str | None = None,
    conn_col: str = "conn_id",
) -> DataFrame:
    """Encode one Payload-with-one-Telemetry per row → (conn_id, frame
    binary). Feed through framing.encode_frames for the on-wire form."""
    cols = df.columns

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames = []
            for _, r in pdf.iterrows():
                t = encode_telemetry(
                    r[name_col],
                    list(r[samples_col]),
                    kind=r[kind_col],
                    persist=bool(r[persist_col]) if persist_col in cols else False,
                    metadata=dict(r[tags_col]) if tags_col in cols else None,
                    timestamp_ms=int(r[ts_ms_col]) if ts_ms_col in cols else None,
                )
                frames.append(encode_payload(points=[t]))
            yield pd.DataFrame(
                {"conn_id": pdf[conn_col], "frame": frames}
            )

    return df.mapInPandas(run, "conn_id long, frame binary")
