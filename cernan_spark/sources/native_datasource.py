"""`cernan_native` — a first-class Spark (Python DataSource API) format
for the reference's native wire protocol.

The reference's native source accepts u32-BE length-framed protobuf
``Payload`` messages over TCP (`/root/reference/src/source/native.rs:63-133`).
The batch analog is a *spool*: files of the identical framing, one file
per connection (capture, flight-record, or kafka-dump). This module
registers that spool as a real Spark source::

    spark.dataSource.register(CernanNativeDataSource)
    df = spark.read.format("cernan_native").load("/spool/dir")

Architecture (the 100 TB plan):

* **One InputPartition per spool file** — Spark schedules files across
  executors exactly like any file source; a directory of N files reads
  N-wide. No driver-side decode, no collect.
* **conn_id comes from the file NAME** (``conn-<id>.bin``), not the
  listing order, so the mapping is stable under re-listing/retries —
  the same identity discipline as the file tailer's (dev, inode) key
  (sources/filetail.py). Both readers list only such files (`_spool_names`);
  the writer makes no other name.
* Both readers decode through one range decoder, `_decode_range`: the
  frame scan `functions/framing.iter_frames` and the frame → rows step
  `functions/nativeproto.frame_rows` that ``decode_native_frames`` also
  runs (one row per sample, empty-sample points dropped per
  native.rs:151-153, malformed frames yield one ``record_kind='invalid'``
  row instead of failing the task, native.rs:198-202). The batch reader
  decodes a whole file, the stream reader the bytes appended since its
  last offset.
* A trailing partial frame is not decoded (a live spool's last frame may
  still be being written — the tail-read contract of filetail.py).
"""

from __future__ import annotations

import os
import re

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from cernan_spark.functions.framing import iter_frames
from cernan_spark.functions.nativeproto import (
    DECODED_SCHEMA,
    encode_telemetry_frame,
    frame_rows,
)

_CONN_RE = re.compile(r"conn-(\d+)\.bin")


def _spool_names(spool: str) -> list[str]:
    """The ``conn-<id>.bin`` file names of a spool directory, sorted."""
    if not os.path.isdir(spool):
        return []
    return sorted(n for n in os.listdir(spool) if _CONN_RE.fullmatch(n))


def _decode_range(path: str, lo: int, hi: int, fidx0: int):
    """``frame_rows`` of every complete frame in bytes [lo, hi) of the spool
    file ``path``, numbered from ``fidx0``; also the offset just past the
    last complete frame and the next frame index."""
    cid = int(_CONN_RE.fullmatch(os.path.basename(path)).group(1))
    with open(path, "rb") as fh:
        fh.seek(lo)
        blob = fh.read(hi - lo)
    rows, end, fidx = [], 0, fidx0
    for end, frame in iter_frames(blob):
        rows += frame_rows(cid, fidx, frame)
        fidx += 1
    return rows, lo + end, fidx


class _SpoolFile(InputPartition):
    def __init__(self, path: str):
        self.path = path


class CernanNativeReader(DataSourceReader):
    def __init__(self, options):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("cernan_native requires a path (spool dir)")

    def partitions(self):
        parts = [
            _SpoolFile(os.path.join(self._path, n))
            for n in _spool_names(self._path)
        ]
        if not parts:
            raise ValueError(f"cernan_native: no .bin spool files under {self._path}")
        return parts

    def read(self, partition: _SpoolFile):
        path = partition.path
        return iter(_decode_range(path, 0, os.path.getsize(path), 0)[0])


class CernanNativeDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "cernan_native"

    def schema(self) -> str:
        return DECODED_SCHEMA

    def reader(self, schema) -> CernanNativeReader:
        return CernanNativeReader(self.options)

    def writer(self, schema, overwrite: bool):
        return CernanNativeWriter(self.options, overwrite)

    def simpleStreamReader(self, schema):
        return CernanNativeStreamReader(self.options)


def write_spool(rows, out_dir: str, n_conns: int) -> None:
    """Deterministic spool writer (driver-side test/fixture helper): each
    row dict ``{conn, name, samples, kind, ts_ms, persist?, tags?}``
    becomes ONE framed Payload appended to ``conn-<conn>.bin`` in input
    order — the byte layout native.rs reads off the socket."""
    os.makedirs(out_dir, exist_ok=True)
    handles = {}
    try:
        for r in rows:
            c = int(r["conn"]) % n_conns
            if c not in handles:
                handles[c] = open(os.path.join(out_dir, f"conn-{c}.bin"), "wb")
            handles[c].write(encode_telemetry_frame(
                r["name"],
                list(r["samples"]),
                kind=r.get("kind", "SUM"),
                persist=bool(r.get("persist", False)),
                timestamp_ms=int(r["ts_ms"]),
                metadata=r.get("tags"),
            ))
    finally:
        for fh in handles.values():
            fh.close()


# ---------------------------------------------------------------------------
# Writer — the native SINK analog (df.write.format("cernan_native"))
# ---------------------------------------------------------------------------

class _SpoolCommit(WriterCommitMessage):
    def __init__(self, pid: int, tmp: str, n: int):
        self.pid = pid
        self.tmp = tmp
        self.n = n


class CernanNativeWriter(DataSourceWriter):
    """Per-task spool writer: each input partition becomes one
    connection file (`conn-<partitionId>.bin`), written to a hidden
    temp name and renamed only in `commit()` — the all-or-nothing
    visibility rule every idempotent sink in this repo follows
    (plans/checkpoint.py), and the batch analog of the native sink's
    flush-then-ack (`/root/reference/src/sink/native.rs` buffers then
    writes whole frames). Input rows: ``conn_id?, name, samples
    array<double>, kind, persist?, ts_ms, tags?``."""

    def __init__(self, options, overwrite: bool):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("cernan_native write requires a path")
        self._overwrite = overwrite

    def write(self, rows):
        import uuid

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        os.makedirs(self._path, exist_ok=True)
        tmp = os.path.join(self._path, f".tmp-conn-{pid}-{uuid.uuid4().hex}")
        n = 0
        with open(tmp, "wb") as fh:
            for r in rows:
                fh.write(encode_telemetry_frame(
                    r["name"],
                    [float(s) for s in r["samples"]],
                    kind=r["kind"],
                    persist=bool(r["persist"]) if "persist" in r.__fields__ else False,
                    timestamp_ms=int(r["ts_ms"]),
                    metadata=dict(r["tags"]) if "tags" in r.__fields__ and r["tags"] is not None else None,
                ))
                n += 1
        return _SpoolCommit(pid, tmp, n)

    def commit(self, messages):
        if self._overwrite:
            for f in os.listdir(self._path):
                if f.endswith(".bin"):
                    os.remove(os.path.join(self._path, f))
        for m in messages:
            os.replace(m.tmp, os.path.join(self._path, f"conn-{m.pid}.bin"))

    def abort(self, messages):
        for m in messages:
            try:
                os.remove(m.tmp)
            except OSError:
                pass


# ---------------------------------------------------------------------------
# Streaming reader — tail the spool like the TCP accept loop tails sockets
# ---------------------------------------------------------------------------

class CernanNativeStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch tail over a live spool directory: the offset is a
    JSON dict ``{file: [byte_offset, frame_idx]}``; each batch decodes
    every COMPLETE frame appended since the last offset and leaves a
    trailing partial frame for the next batch — byte-for-byte the
    file-tailer's partial-line rule (sources/filetail.py) applied to
    u32-BE frames, and the batch analog of native.rs's continuous
    accept loop. New ``conn-*.bin`` files are picked up at any batch
    (a new connection arriving). ``readBetweenOffsets`` replays a
    committed range deterministically, so recovery re-emits the same
    rows (at-least-once → effectively-once under the framework's
    offset log)."""

    def __init__(self, options):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("cernan_native stream requires a path")

    def initialOffset(self) -> dict:
        return {}

    def read(self, start: dict):
        rows, end = [], {}
        for fname in _spool_names(self._path):
            path = os.path.join(self._path, fname)
            lo, fidx = start.get(fname, [0, 0])
            r, consumed, fidx2 = _decode_range(path, lo, os.path.getsize(path), fidx)
            rows.extend(r)
            end[fname] = [consumed, fidx2]
        for fname, pos in start.items():  # a file vanished: hold its offset
            end.setdefault(fname, pos)
        return iter(rows), end

    def readBetweenOffsets(self, start: dict, end: dict):
        rows = []
        for fname, (hi, _) in end.items():
            lo, fidx = start.get(fname, [0, 0])
            if hi > lo:
                path = os.path.join(self._path, fname)
                rows.extend(_decode_range(path, lo, hi, fidx)[0])
        return iter(rows)

    def commit(self, end: dict) -> None:
        pass
