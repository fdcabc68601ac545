"""The native protocol's u32-BE length framing.

Reference: cernan's native TCP source reads u32-BE length-framed protobuf
payloads (src/source/native.rs:63-203; proto
resources/protobufs/native.proto:42-100).

`iter_frames` is the one frame scan: `frames_from_stream` (mapInPandas over
Arrow batches, since variable-length splitting is not one column op) and
both `cernan_native` readers (sources/native_datasource.py) call it.
`encode_frames` prepends the length with hex → unhex column expressions.
The Avro source's header lives in functions/avrowire.py.
"""

from __future__ import annotations

import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def iter_frames(blob: bytes) -> Iterator[tuple[int, bytes]]:
    """Each complete frame of ``blob`` with the offset just past it. A
    trailing partial frame is not yielded: a live stream's last frame may
    still be arriving (native.rs:63-133)."""
    off = 0
    while off + 4 <= len(blob):
        (n,) = struct.unpack(">I", blob[off : off + 4])
        end = off + 4 + n
        if end > len(blob):
            return
        yield end, blob[off + 4 : end]
        off = end


def frames_from_stream(
    df: DataFrame, bin_col: str = "stream", id_col: str = "conn_id"
) -> DataFrame:
    """Split u32-BE length-framed byte streams into one row per frame
    (native.rs:63-133). Vectorized over Arrow batches; output preserves
    (conn_id, frame_idx) ordering — the 'order of receipt'."""

    def split(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for cid, blob in zip(pdf[id_col], pdf[bin_col]):
                for i, (_, frame) in enumerate(iter_frames(bytes(blob))):
                    frames.append(frame)
                    ids.append(cid)
                    idxs.append(i)
            yield pd.DataFrame({id_col: ids, "frame_idx": idxs, "frame": frames})

    return df.mapInPandas(split, f"{id_col} long, frame_idx int, frame binary")


def encode_frames(df: DataFrame, bin_col: str = "frame") -> DataFrame:
    """Native-sink re-encode: prepend the u32-BE length (native.rs:174-198).
    Length prefix built from hex → unhex column expressions."""
    length = F.length(F.col(bin_col))
    prefix = F.unhex(F.lpad(F.hex(length), 8, "0"))
    return df.withColumn("framed", F.concat(prefix, F.col(bin_col)))
