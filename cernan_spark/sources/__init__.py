"""Input layer: scan helpers + deterministic transcript derivation.

Cernan's sources (statsd UDP, graphite TCP, native protobuf, avro, file
tail — reference src/source/) become DataFrames here. The driver-mandated
input is a transcripts table (conv_id, turn_idx, role, text, tool, ts);
wire payloads live in `text`.
"""

from cernan_spark.sources.transcripts import (
    synthetic_transcripts,
    transcripts_from_events,
)
from cernan_spark.sources.dimensions import (
    default_histogram_masks,
    default_routes,
    default_tag_dicts,
)

__all__ = [
    "transcripts_from_events",
    "synthetic_transcripts",
    "default_routes",
    "default_tag_dicts",
    "default_histogram_masks",
]
