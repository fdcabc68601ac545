"""Internal self-telemetry: the ``cernan.*`` metrics the Internal source
emits about the pipeline itself (reference src/source/internal.rs:105-455 —
per-source packet counters, per-filter accept/reject, per-sink delivery and
aggregation counters).

Batch form: ONE multi-counter aggregate per pipeline stage (telemetry,
logs, bad, sink counts, wavefront rollup, prometheus), unpivoted to
(name, value, kind) rows — 6 jobs total instead of one job per series
(a naive 21-arm union spent more time in per-arm planning/scheduling than
in data). Metric names match the reference byte-for-byte where the concept
maps (statsd/graphite packet counts, sink delivery totals, wavefront
per-kind aggregation counters).

Corpus-side pipelines emit the same (name, value, kind) shape:
``cernan_spark.operators.dedup.bucket_drop_stats`` produces
``cernan.dedup.<op>.buckets_dropped`` / ``.members_affected`` series
(unionByName-compatible with this module's output — the batch analog of
the reference's hopper-full drop accounting, util.rs:28-68)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cernan_spark.sources.dimensions import local_table

_SCHEMA = "name string, value double, kind string"


def _unpivot(one_row: DataFrame, names: list[tuple[str, str]]) -> DataFrame:
    """1-row aggregate with columns [c0..cn] → (name, value, kind) rows."""
    arr = F.array(
        *[
            F.struct(
                F.lit(series).alias("name"),
                F.coalesce(F.col(col).cast("double"), F.lit(0.0)).alias("value"),
            )
            for series, col in names
        ]
    )
    return one_row.select(F.explode(arr).alias("s")).select(
        "s.name", "s.value", F.lit("SUM").alias("kind")
    )


def _cnt(cond: Column | None = None) -> Column:
    return F.count(F.when(cond, F.lit(1))) if cond is not None else F.count("*")


def internal_telemetry(
    spark: SparkSession, out: dict[str, DataFrame]
) -> DataFrame:
    """cernan.* self-metrics for one pipeline run — names byte-identical to
    internal.rs:105-455 where the concept maps:

    * per-protocol parse counts: ``cernan.statsd.packet`` /
      ``.bad_packet``, ``cernan.graphite.packet`` /
      ``.telemetry.received``;
    * per-filter accept/reject: ``cernan.filters.delay.telemetry.accept``
      / ``.reject`` (internal.rs:403-418 — reject only differs from zero
      when the pipeline ran with an age_threshold),
      ``cernan.filters.delay.log.accept`` / ``.reject``,
      ``cernan.filters.json_encode.log.processed`` / ``.parsed``
      (internal.rs:424-429);
    * per-sink delivery: ``cernan.sinks.<sink>.records.total_delivered``;
    * wavefront aggregation block (internal.rs:284-309):
      ``…aggregations.total_stored``, ``…aggregation.<kind>``,
      ``…aggregation.summarize.total_percentiles`` — ONE rollup aggregate;
    * prometheus block: ``…aggregation.reportable`` (internal.rs:345) and
      the kind-rejection count (no reference series name — the reference
      drops silently; accounted here as ``…aggregation.kind_rejected``).
    """
    tel = out["telemetry"]
    logs = out["logs"]

    # --- telemetry: statsd lines carry no wire timestamp; graphite do ---
    is_graphite = F.col("event_epoch").isNotNull()
    tel_counts = tel.agg(
        _cnt(~is_graphite).alias("c0"),
        _cnt(is_graphite).alias("c1"),
        _cnt().alias("c2"),
    )
    parts = [
        _unpivot(
            tel_counts,
            [
                ("cernan.statsd.packet", "c0"),
                ("cernan.graphite.packet", "c1"),
                ("cernan.graphite.telemetry.received", "c1"),
                ("cernan.filters.delay.telemetry.accept", "c2"),
            ],
        )
    ]

    # delay-filter reject: run_pipeline exposes the pre-filter table when an
    # age_threshold is configured; with no threshold everything is accepted
    # (delay_filter.rs:60-74 emits both sides either way)
    pre = out.get("telemetry_unfiltered")
    if pre is not None:
        n_pre = pre.agg(F.count("*").alias("n"))
        n_post = tel.agg(F.count("*").alias("n2"))
        parts.append(
            _unpivot(
                n_pre.crossJoin(n_post).select(
                    (F.col("n") - F.col("n2")).alias("c0")
                ),
                [("cernan.filters.delay.telemetry.reject", "c0")],
            )
        )
    else:
        parts.append(
            local_table(
                spark, [("cernan.filters.delay.telemetry.reject", 0.0, "SUM")], _SCHEMA
            )
        )
    parts.append(
        local_table(spark, [("cernan.filters.delay.log.reject", 0.0, "SUM")], _SCHEMA)
    )

    # --- logs: accept + json-encode counters in one aggregate ---
    log_names = [
        ("cernan.filters.delay.log.accept", "c0"),
        ("cernan.filters.json_encode.log.processed", "c0"),
    ]
    log_aggs = [_cnt().alias("c0")]
    if "is_json_object" in logs.columns:
        log_aggs.append(_cnt(F.col("is_json_object")).alias("c1"))
        log_names.append(("cernan.filters.json_encode.log.parsed", "c1"))
    parts.append(_unpivot(logs.agg(*log_aggs), log_names))

    # --- bad lines ---
    parts.append(
        _unpivot(
            out["bad"].agg(_cnt().alias("c0")),
            [("cernan.statsd.bad_packet", "c0")],
        )
    )

    # --- per-sink delivery (already one grouped aggregate) ---
    parts.append(
        out["sink_counts"].select(
            F.concat(
                F.lit("cernan.sinks."),
                F.col("sink"),
                F.lit(".records.total_delivered"),
            ).alias("name"),
            F.col("n_rows").cast("double").alias("value"),
            F.lit("SUM").alias("kind"),
        )
    )

    # --- wavefront aggregation block: per-kind AND grand total in ONE
    # rollup aggregate (the null-key row is the total) ---
    wf = out["aggregates"].filter(F.col("sink") == "wavefront")
    roll = wf.rollup(F.lower("kind").alias("_k")).agg(
        F.count("*").alias("_n"),
        F.sum(
            F.when(F.col("kind") == "SUMMARIZE", F.size("quantile_values"))
        ).alias("_qn"),
    )
    parts.append(
        roll.select(
            F.when(
                F.col("_k").isNull(),
                F.lit("cernan.sinks.wavefront.aggregations.total_stored"),
            )
            .otherwise(
                F.concat(
                    F.lit("cernan.sinks.wavefront.aggregation."), F.col("_k")
                )
            )
            .alias("name"),
            F.col("_n").cast("double").alias("value"),
            F.lit("SUM").alias("kind"),
        )
    )
    parts.append(
        _unpivot(
            roll.filter(F.col("_k").isNull()).select(F.col("_qn").alias("c0")),
            [
                (
                    "cernan.sinks.wavefront.aggregation.summarize."
                    "total_percentiles",
                    "c0",
                )
            ],
        )
    )

    # --- prometheus block: reportable + kind-rejected in one aggregate ---
    from cernan_spark.operators.aggregate import prometheus_reject_kind_changes

    prom = out["aggregates"].filter(F.col("sink") == "prometheus")
    marked = prometheus_reject_kind_changes(prom, ["name"])
    # reportable counts ACCEPTED series only: in the reference a rejected
    # kind-change never enters the accumulator (prometheus.rs insert →
    # reportable), so a name seen under two kinds must count once, not twice.
    parts.append(
        _unpivot(
            marked.agg(
                F.countDistinct(
                    F.when(
                        ~F.col("kind_rejected"), F.struct("name", "kind")
                    )
                ).alias("c0"),
                _cnt(F.col("kind_rejected")).alias("c1"),
            ),
            [
                ("cernan.sinks.prometheus.aggregation.reportable", "c0"),
                ("cernan.sinks.prometheus.aggregation.kind_rejected", "c1"),
            ],
        )
    )

    result = parts[0]
    for p in parts[1:]:
        result = result.unionByName(p)
    return result
