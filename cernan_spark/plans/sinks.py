"""Fan-out shipping: format every routed sink table and write it,
checkpointed per partition (the end of cernan's DAG — src/sink/*.rs).

One pipeline output feeds N sinks; each write is resumable via the shared
lineage table (plans/checkpoint.py). In local mode sinks land as parquet
directories under ``base_path/<sink>``; on a cluster the same calls target
Iceberg tables (connector jars absent in this image — the writer falls
back to parquet paths; see _write)."""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from cernan_spark.operators.aggregate import (
    event_epoch_expr,
    prometheus_accumulate,
    prometheus_reject_kind_changes,
    prometheus_windowed_summaries,
    wavefront_persist_reinsert,
)
from cernan_spark.operators.sinks import (
    console_format,
    elasticsearch_format,
    influxdb_format,
    kafka_format,
    prometheus_format,
    wavefront_format,
)
from cernan_spark.plans.checkpoint import checkpointed_write


def _write(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def _prometheus_summaries(routed_points: DataFrame, capacity_s: int) -> DataFrame:
    """Windowed Summarize quantiles for the exposition: batch 'now' is the
    routed points' max event time (one tiny driver action over an
    aggregate, not a per-row collect)."""
    now_row = routed_points.agg(
        F.max(event_epoch_expr(routed_points)).alias("mx")
    ).collect()[0]
    now_epoch = now_row["mx"] if now_row["mx"] is not None else 0
    return prometheus_windowed_summaries(
        routed_points, capacity_seconds=capacity_s, now_epoch=now_epoch
    )


def write_sinks(
    spark: SparkSession,
    out: dict[str, DataFrame],
    base_path: str,
    bin_width: int = 60,
    lineage_path: str | None = None,
    summary_capacity_s: int = 3600,
    run_id: str | None = None,
) -> dict[str, str]:
    """Materialize every configured sink from a run_pipeline output dict.

    Returns {sink: path}. Aggregating sinks (console/wavefront/prometheus)
    format the shared aggregate table; influxdb ships raw routed points
    (it buffers without merging, influxdb.rs:285-287); elasticsearch/kafka
    ship routed log lines; null discards (write skipped)."""
    agg = out["aggregates"]
    routed_tel = out["routed_telemetry"]
    routed_logs = out["routed_logs"]
    paths: dict[str, str] = {}

    def sink_of(name: str) -> DataFrame:
        return agg.filter(F.col("sink") == name)

    # persisted series re-enter every later flush window re-timestamped
    # (wavefront.rs:423-426): append the synthesized carry rows before
    # formatting so gap/tail bins still emit lines
    wf = sink_of("wavefront")
    wf_all = wf.unionByName(
        wavefront_persist_reinsert(wf).filter(F.col("reinserted")),
        allowMissingColumns=True,
    )
    targets = {
        "console": console_format(sink_of("console"), bin_width),
        "wavefront": wavefront_format(wf_all, bin_width),
        # prometheus_format's contract is "one row per key = the current
        # accumulator snapshot" (prometheus.rs:209-332): keep only each
        # (name, kind)'s LAST bin of the perpetual accumulation — without
        # this the exposition repeats one TYPE/sample line per bin with
        # intermediate cumulative values.
        # a name that flips aggregation kind is rejected, first-seen wins
        # (prometheus.rs:279-310) — rejected rows never reach the
        # accumulator or the exposition. Summarize kinds live in the
        # reference's capacity_in_seconds Windowed accumulator
        # (prometheus.rs:95-195), not the Perpetual one: the summary
        # section is fed from the windowed operator over the RAW routed
        # points (window = capacity, batch 'now' = max event time), while
        # SUM/SET/HISTOGRAM come from the perpetual accumulation's last
        # snapshot (histogram buckets from cum_hist — accumulated across
        # all bins, not the final bin alone).
        "prometheus": prometheus_format(
            prometheus_accumulate(
                prometheus_reject_kind_changes(sink_of("prometheus"), ["name"])
                .filter(~F.col("kind_rejected"))
                .drop("kind_rejected")
                .filter(F.col("kind") != "SUMMARIZE"),
                ["name", "kind"],
            )
            .withColumn(
                "_rn",
                F.row_number().over(
                    W.partitionBy("name", "kind").orderBy(F.col("bin").desc())
                ),
            )
            .filter(F.col("_rn") == 1)
            .drop("_rn"),
            summaries=_prometheus_summaries(
                routed_tel.filter(F.col("sink") == "prometheus"),
                summary_capacity_s,
            ),
        ),
        "influxdb": influxdb_format(
            routed_tel.filter(F.col("sink") == "influxdb")
        ),
        "elasticsearch": elasticsearch_format(
            routed_logs.filter(F.col("sink") == "elasticsearch")
        ),
        "kafka": kafka_format(routed_logs.filter(F.col("sink") == "kafka")),
    }
    # fault injection for the kill/resume e2e proof (tests/test_job_resume):
    # after N sinks have committed, die the way a SIGKILL'd driver dies —
    # os._exit skips JVM shutdown, atexit, and any in-flight cleanup, so
    # the lineage/sink state left behind is exactly a crashed run's.
    fail_after = int(os.environ.get("CERNAN_SPARK_FAIL_AFTER_SINKS", "0") or 0)
    n_committed = 0
    # ONE run_id per job invocation (not per sink write): lineage rows
    # group into "this run committed these (sink, part) pairs", which is
    # what run_metrics rolls up and what the resume proof inspects
    run_id = run_id or uuid.uuid4().hex[:12]
    for sink, df in targets.items():
        path = f"{base_path}/{sink}"
        if lineage_path is not None:
            checkpointed_write(
                spark,
                df.withColumn("sink", F.lit(sink)),
                path,
                lineage_path,
                key_col=df.columns[0],
                run_id=run_id,
            )
        else:
            _write(df, path)
        paths[sink] = path
        n_committed += 1
        if fail_after and n_committed >= fail_after:
            os._exit(137)
    return paths
