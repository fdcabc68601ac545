"""The flagship DAG: parse → enrich → route → aggregate over transcripts.

Mirrors cernan's statsd-packet lifecycle (SURVEY.md §3.1): ingest/parse
(src/source/statsd.rs:89-205 → protocols/statsd.rs:22-163), fan-out routing
(src/util.rs:28-68), bucket aggregation (src/buckets.rs:146-178), per-sink
flush formatting (src/sink/*.rs) — re-expressed as one declarative Spark
plan per stage. Stage boundaries:

  scan (column-pruned parquet) ─ narrow → explode/classify/parse/enrich
  (single codegen stage; enrich is a projection over literal tag maps)
  → one-pass hash aggregate (THE shuffle, map-side combined) → broadcast
  route fan-out of the aggregates (no shuffle) → sink formatting (narrow).

The config tables (routes, tag dictionaries, histogram masks) are literal
relations held in the JVM, or are collected into literals at build time,
so no stage runs a Python worker.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cernan_spark.functions.classify import explode_lines, line_class
from cernan_spark.functions.graphite import graphite_columns, graphite_name
from cernan_spark.functions.jsonlog import parse_json_logs
from cernan_spark.functions.statsd import (
    mask_bounds_expr,
    parse_statsd_lines,
    upgrade_histograms,
)
from cernan_spark.operators.aggregate import (
    bucket_aggregate_onepass,
    event_epoch_expr,
)
from cernan_spark.operators.enrich import tag_columns
from cernan_spark.operators.route import route, routed_counts
from cernan_spark.sources.dimensions import (
    default_histogram_masks,
    default_routes,
    default_tag_dicts,
    local_table,
)


@dataclass
class PipelineConfig:
    bin_width: int = 60
    quantiles: list[float] = field(
        default_factory=lambda: [0.0, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99, 0.999, 1.0]
    )
    accuracy: int = 1000
    #: per-sink late/early-data rejection window in seconds (wavefront
    #: age_threshold, wavefront.rs:643-651; None = accept everything).
    #: Batch 'now' = the input's max event time.
    age_threshold_s: int | None = None


def parse_stage(
    transcripts: DataFrame, masks: DataFrame | None = None
) -> dict[str, DataFrame]:
    """Explode text into lines, classify, parse each wire format.

    Returns {'telemetry', 'logs', 'bad'} DataFrames. Telemetry rows carry
    (name, value, kind, persist, event_epoch) + provenance
    (conv_id, turn_idx, order_key, role, tool, ts).
    """
    return _parse_stage(
        transcripts, None if masks is None else mask_bounds_expr(masks)
    )


def _parse_stage(
    transcripts: DataFrame, bounds: Column | None
) -> dict[str, DataFrame]:
    """:func:`parse_stage` over an already built mask-bounds expression."""
    if "order_key" not in transcripts.columns:
        transcripts = transcripts.withColumn(
            "order_key",
            F.xxhash64("conv_id") * 65536 + F.col("turn_idx").cast("long"),
        )
    # Parse once, classify from parse validity (classifying first and then
    # re-parsing would evaluate the whole statsd string scan twice per line).
    exploded = explode_lines(transcripts)
    parsed_all = parse_statsd_lines(exploded, keep_invalid=True)
    if bounds is not None:
        parsed_all = upgrade_histograms(parsed_all, bounds)
    lines = parsed_all.withColumn(
        "line_class", line_class(F.col("line"), F.col("is_valid"))
    )

    # Telemetry is one arm, classified in line_class order: a statsd-valid
    # line is statsd, any other line is tried as graphite. The graphite
    # name is materialized once behind a single-element explode (a
    # Generate barrier CollapseProject cannot inline through), so the
    # filter and the conditional output columns read it instead of
    # re-running the regex, and only the lines the statsd parse rejected
    # run the regex. A statsd ∪ graphite union re-scans, re-explodes and
    # regex-matches every line in its second arm: against it this arm cut
    # the flagship's wall time by 22% (300k synthetic turns, local[4]).
    line = F.col("line")
    is_statsd = F.col("is_valid")
    staged = parsed_all.select(
        "*",
        F.explode(
            F.array(F.when(is_statsd, F.lit("")).otherwise(graphite_name(line)))
        ).alias("_gname"),
    )
    g = graphite_columns(line, F.col("_gname"))
    provenance = ["conv_id", "turn_idx", "order_key", "role", "tool", "ts"]
    telemetry = staged.filter(is_statsd | g["is_valid"]).select(
        *provenance,
        *[
            F.when(is_statsd, F.col(c)).otherwise(g[c]).alias(c)
            for c in ("name", "value", "kind", "persist")
        ],
        F.when(is_statsd, F.lit(None).cast("long"))
        .otherwise(g["event_epoch"])
        .alias("event_epoch"),
    )
    logs = parse_json_logs(
        lines.filter(F.col("line_class").isin("json", "log"))
    )
    bad = lines.filter(F.col("line_class") == "bad")
    return {"telemetry": telemetry, "logs": logs, "bad": bad}


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: PipelineConfig | None = None,
    routes: DataFrame | None = None,
    tag_dicts: DataFrame | None = None,
    masks: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Full parse → enrich → route → aggregate. Returns every materializable
    stage so callers (tests, bench, sinks) pick what they need lazily."""
    cfg = cfg or PipelineConfig()
    # routes are the only config table the plan reads; a caller's frame is
    # re-held as a JVM literal relation (see local_table) so that no action
    # on the outputs rescans a Python RDD to rebuild the route broadcast
    routes = (
        default_routes(spark) if routes is None
        else local_table(spark, routes.collect(), routes.schema)
    )
    tag_dicts = tag_dicts if tag_dicts is not None else default_tag_dicts(spark)
    masks = masks if masks is not None else default_histogram_masks(spark)
    # each config table is collected once: the parse and the aggregate
    # share the mask-bounds expression, telemetry and logs the tag columns
    bounds = mask_bounds_expr(masks)
    tags = tag_columns(tag_dicts)

    stages = _parse_stage(transcripts, bounds)
    telemetry, logs, bad = stages["telemetry"], stages["logs"], stages["bad"]

    telemetry_unfiltered = None
    if cfg.age_threshold_s is not None:
        # wavefront-style age_threshold (wavefront.rs:643-651): reject
        # telemetry older/newer than the window around 'now' (batch now =
        # max event time — a deterministic high-watermark)
        from cernan_spark.operators.filters import delay_filter

        telemetry_unfiltered = telemetry

        now_ref = telemetry.agg(F.max(event_epoch_expr(telemetry)).alias("_now"))
        # wavefront's bound is inclusive (<=, wavefront.rs:645) while
        # DelayFilter's is strict (<); +1 on integer seconds makes the
        # strict filter inclusive at the configured threshold
        telemetry = delay_filter(
            telemetry.crossJoin(F.broadcast(now_ref)),
            cfg.age_threshold_s + 1,
            F.col("_now"),
        ).drop("_now")

    # transcripts carry no event tags → the precomputed-combo fast path
    # (one projection over literal maps, no join, no per-row map merging)
    telemetry = telemetry.withColumns(tags)
    logs = logs.withColumns(tags)

    telemetry = telemetry.withColumn("match_kind_value", F.lit("telemetry"))
    logs = logs.withColumn("match_kind_value", F.lit("log")).withColumn(
        "name", F.col("conv_id")
    )

    routed_tel = route(telemetry, routes)
    routed_logs = route(logs, routes)

    # Aggregate ONCE on the un-fanned telemetry (one scan, one shuffle via
    # bucket_aggregate_onepass), then fan the per-series aggregates out to
    # sinks with a broadcast route join — the fan-out multiplies tiny
    # aggregate rows, not raw events. Valid because sinks share bin_width;
    # per-sink widths would fold `sink` into the aggregate's group key.
    agg_once = bucket_aggregate_onepass(
        telemetry, bin_width=cfg.bin_width, quantiles=cfg.quantiles,
        accuracy=cfg.accuracy, bounds_expr=bounds,
    )
    agg = route(
        agg_once.withColumn("match_kind_value", F.lit("telemetry")), routes
    ).drop("match_kind_value", "rule_id")

    result = {
        "telemetry": telemetry,
        "logs": logs,
        "bad": bad,
        "routed_telemetry": routed_tel,
        "routed_logs": routed_logs,
        "aggregates": agg,
        "sink_counts": routed_counts(
            routed_tel.select("sink").unionByName(routed_logs.select("sink"))
        ),
    }
    if telemetry_unfiltered is not None:
        # pre-delay-filter rows, for the internal accept/reject accounting
        result["telemetry_unfiltered"] = telemetry_unfiltered
    return result

