"""Streaming parse → aggregate: cernan's true operating mode.

Mapping (SURVEY.md §2.7):

* TimerFlush pulses (reference src/source/flush.rs:17-49) → micro-batch
  triggers;
* tumbling `bin_width` windows (sink configs, e.g. console.rs:28-31) →
  `F.window(ts, N seconds)`;
* DelayFilter / age_threshold late-data rejection
  (delay_filter.rs:52-81, wavefront.rs:643-651) → `withWatermark`;
* gauge persistence across flushes (buckets.rs:100-116,163-175) →
  `applyInPandasWithState` keeping the running gauge value per series;
* FlushBoundaryFilter (complete bins only) → append output mode, which
  only emits a window once the watermark passes it.

The batch and streaming paths share the parse layer — the same column
expressions run under `readStream`.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from cernan_spark.functions.statsd import parse_statsd_lines

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp, order_key long"
)


def stream_transcripts(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 4,
    max_bytes_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a transcripts parquet directory (the
    FileServer tail, reference src/source/file/file_server.rs:67-178).

    Backpressure = the valve (util.rs:79-85): the reference's sinks close
    the valve by stored-value/byte counts (wavefront >10k values,
    influxdb >100k, kafka by in-flight bytes); the streaming analog caps
    per-micro-batch intake by file count and/or bytes."""
    rs = spark.readStream.schema(TRANSCRIPT_SCHEMA).option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    if max_bytes_per_trigger is not None:
        rs = rs.option("maxBytesPerTrigger", max_bytes_per_trigger)
    return rs.parquet(path)


def streaming_parse(stream: DataFrame) -> DataFrame:
    """Statsd parse on the stream — identical column expressions as batch."""
    return parse_statsd_lines(stream, line_col="text")


def streaming_bucket_aggregate(
    parsed: DataFrame,
    bin_width: int = 60,
    watermark: str = "10 minutes",
    quantiles: list[float] | None = None,
    accuracy: int = 1000,
) -> DataFrame:
    """Windowed Sum/count/quantile aggregation with late-data rejection.

    Append mode + watermark = cernan's FlushBoundaryFilter semantics: a bin
    is emitted exactly once, after it can no longer change."""
    qs = quantiles or [0.5, 0.9, 0.99]
    q_arr = F.array(*[F.lit(q) for q in qs])
    is_sum = F.col("kind") == "SUM"
    is_summ = F.col("kind") == "SUMMARIZE"
    return (
        parsed.withWatermark("ts", watermark)
        .groupBy(F.window("ts", f"{bin_width} seconds"), "name", "kind")
        .agg(
            F.sum(F.when(is_sum, F.col("value"))).alias("sum_value"),
            F.count("*").alias("n_points"),
            F.percentile_approx(
                F.when(is_summ, F.col("value")), q_arr, F.lit(accuracy)
            ).alias("quantile_values"),
        )
    )


def streaming_session_aggregate(
    parsed: DataFrame,
    gap: int = 600,
    watermark: str = "15 minutes",
    key_col: str = "conv_id",
) -> DataFrame:
    """Session-window aggregation on the stream: events in the same
    ``key_col`` merge while their gap stays under ``gap`` seconds
    (`F.session_window` — window = [first_ts, last_ts + gap), merged on
    overlap, all microsecond-exact timestamp arithmetic). Append mode +
    watermark emits each session exactly once, after it can no longer
    extend — the FlushBoundaryFilter contract applied to variable-width
    windows (reference flush_boundary_filter.rs:56-91; cernan only has
    fixed bins, sessions are the log-pipeline generalization).

    The batch twin is ``sessionize`` (lag ≥ gap starts an island); the
    oracle replays it with INTERVAL arithmetic and the final-watermark
    emission cut.
    """
    return (
        parsed.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", f"{gap} seconds"), key_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("kind") == "SUM", F.col("value"))).alias(
                "sum_value"
            ),
        )
    )


# ---------------------------------------------------------------------------
# stateful gauge: the persist flag across micro-batches
# ---------------------------------------------------------------------------

GAUGE_OUTPUT_SCHEMA = "name string, running_value double, n_events long"
GAUGE_STATE_SCHEMA = "running double, n long"


def _gauge_fold(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-series gauge fold (Set replaces, delta-Sum adds) carrying the
    running value in GroupState across micro-batches — the streaming twin
    of the batch fold in operators/aggregate.gauge_carry_forward, whose
    value in a single bin spanning the whole stream is this running
    value."""
    if state.exists:
        running, n = state.get
    else:
        running, n = 0.0, 0
    for pdf in pdfs:
        pdf = pdf.sort_values("order_key")
        for kind, value in zip(pdf["kind"], pdf["value"]):
            if kind == "SET":
                running = float(value)
            else:
                running += float(value)
        n += len(pdf)
    state.update((running, n))
    yield pd.DataFrame(
        {"name": [key[0]], "running_value": [running], "n_events": [n]}
    )


# ---------------------------------------------------------------------------
# stateful exact dedup: first-seen-wins across micro-batches
# ---------------------------------------------------------------------------

DEDUP_OUTPUT_SCHEMA = "content_hash long, doc_id long"
DEDUP_STATE_SCHEMA = "first_doc long, n_seen long"


def _dedup_first_seen(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-content-hash first-seen fold: the first document carrying this
    hash (min doc_id within its arrival batch) is emitted ONCE; every
    later arrival only bumps the state's duplicate count. The streaming
    twin of batch exact dedup (groupBy hash → min(doc_id))."""
    first_doc, n_seen = state.get if state.exists else (None, 0)
    emit_first = first_doc is None
    # A large group arrives as MULTIPLE Arrow chunks within one batch;
    # the owner must be the min doc_id across ALL of them, not the first
    # chunk's min (a boilerplate-heavy hash is exactly the case that
    # overflows one chunk).
    batch_min: int | None = None
    for pdf in pdfs:
        if len(pdf):
            m = int(pdf["doc_id"].min())
            batch_min = m if batch_min is None else min(batch_min, m)
            n_seen += len(pdf)
    if first_doc is None:
        first_doc = batch_min
    state.update((first_doc, n_seen))
    if emit_first and first_doc is not None:
        yield pd.DataFrame({"content_hash": [key[0]], "doc_id": [first_doc]})
    else:
        yield pd.DataFrame({"content_hash": [], "doc_id": []}).astype(
            {"content_hash": "int64", "doc_id": "int64"}
        )


def streaming_exact_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """Incremental exact dedup over a document stream: content-hash keyed
    `applyInPandasWithState` emits each distinct text's first carrier
    exactly once across ALL micro-batches — the streaming-ingest shape of
    corpus dedup (a doc arriving in batch 9 that duplicates batch 2's
    content is silently absorbed into state, never emitted). The per-group
    Python fold sees only the few rows per hash per batch; hashing stays
    JVM-side. ``portable=True`` swaps xxhash64 for the cross-engine
    poly-hash so a DuckDB oracle can replay the emitted canon."""
    if portable:
        from cernan_spark.functions.porthash import portable_hash

        h = portable_hash(F.col(text_col))
    else:
        h = F.xxhash64(F.col(text_col))
    hashed = docs.select(
        h.alias("content_hash"), F.col(id_col).alias("doc_id")
    )
    return hashed.groupBy("content_hash").applyInPandasWithState(
        _dedup_first_seen,
        DEDUP_OUTPUT_SCHEMA,
        DEDUP_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def streaming_gauge(parsed: DataFrame) -> DataFrame:
    """Persisted-gauge running value per series, updated every micro-batch
    (update output mode). The per-group pandas fold is tiny (gauges per
    series per batch), so the Python boundary is off the hot path."""
    gauges = parsed.filter(F.col("persist"))
    return gauges.groupBy("name").applyInPandasWithState(
        _gauge_fold,
        GAUGE_OUTPUT_SCHEMA,
        GAUGE_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    join_on,
    left_ts: str,
    right_ts: str,
    watermark_s: int,
) -> DataFrame:
    """Stream-stream INNER join with an event-time interval condition —
    the two-firehose correlation (view↔conversion, request↔response)
    cernan can only do by shipping both streams to a warehouse
    (/root/reference/src/sink/firehose.rs is that handoff); Structured
    Streaming does it in-flight. Both sides are watermarked so the join
    state is BOUNDED: a buffered row is dropped once the other stream's
    watermark passes the farthest time the interval condition could
    still match — state size ∝ rate × (watermark + interval), never the
    stream length. ``join_on`` must include the equality key (state
    partitions on it) and the time-range predicate (state pruning reads
    the bounds from it).
    """
    l = left.withWatermark(left_ts, f"{watermark_s} seconds")
    r = right.withWatermark(right_ts, f"{watermark_s} seconds")
    return l.join(r, join_on, "inner")
