"""Row-level filters: cernan's Filter trait is flatMap over events
(reference src/filter/mod.rs:53-62). Each becomes a declarative transform.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cernan_spark.operators.aggregate import event_epoch_expr
from cernan_spark.sources.dimensions import local_table


def delay_filter(
    df: DataFrame,
    tolerance_seconds: int,
    ref_epoch: int | Column,
    ts_col: str = "ts",
) -> DataFrame:
    """Reject events with |t − ref| ≥ tolerance (late/early data).

    Reference src/filter/delay_filter.rs:52-81 (strict <). In batch the
    reference clock is a parameter (event-time max or job start); in
    streaming this is the watermark. The predicate is pushed into the scan
    by Catalyst when ts maps to a partition column.
    """
    ref = F.lit(ref_epoch) if isinstance(ref_epoch, int) else ref_epoch
    epoch = event_epoch_expr(df, ts_col)
    return df.filter(F.abs(epoch - ref) < F.lit(tolerance_seconds))


def delay_filter_counts(
    df: DataFrame,
    tolerance_seconds: int,
    ref_epoch: int,
    ts_col: str = "ts",
) -> DataFrame:
    """Accept/reject accounting (cernan emits telemetry for both,
    delay_filter.rs:60-74)."""
    epoch = F.unix_timestamp(F.col(ts_col))
    return df.select(
        F.when(
            F.abs(epoch - F.lit(ref_epoch)) < F.lit(tolerance_seconds),
            F.lit("accept"),
        )
        .otherwise(F.lit("reject"))
        .alias("disposition")
    ).groupBy("disposition").agg(F.count("*").alias("n"))


def flush_boundary_filter(
    binned: DataFrame, max_complete_bin: int | Column, bin_col: str = "bin"
) -> DataFrame:
    """Release only settled bins (hold the in-progress tail).

    Reference src/filter/flush_boundary_filter.rs:56-91 holds events for k
    flush pulses so one second never splits across two flushes; in batch
    that is exactly 'emit only bins strictly below the high-watermark bin'.
    """
    mx = (
        F.lit(max_complete_bin)
        if isinstance(max_complete_bin, int)
        else max_complete_bin
    )
    return binned.filter(F.col(bin_col) < mx)


# ---------------------------------------------------------------------------
# Programmable filter registry — the Lua hook surface as named transforms
# (reference src/filter/programmable_filter.rs + examples/scripts/*.lua)
# ---------------------------------------------------------------------------

def xf_identity(df: DataFrame) -> DataFrame:
    """identity.lua: pass everything through unchanged."""
    return df


def xf_name_rewrite(df: DataFrame, pattern: str, replacement: str) -> DataFrame:
    """collectd_scrub.lua:6-12 — regex rewrite of the metric name."""
    return df.withColumn("name", F.regexp_replace("name", pattern, replacement))


def xf_add_tag(df: DataFrame, key: str, value: str) -> DataFrame:
    """add_keys.lua — set a tag (overwrites existing key: Lua set_tag)."""
    empty = F.expr("map()")
    tags = F.coalesce(F.col("tags"), empty) if "tags" in df.columns else empty
    newm = F.create_map(F.lit(key), F.lit(value))
    return df.withColumn(
        "tags", F.map_zip_with(newm, tags, lambda _k, v1, v2: F.coalesce(v1, v2))
    )


def xf_remove_tag(df: DataFrame, key: str) -> DataFrame:
    """remove_keys.lua — drop a tag key."""
    return df.withColumn(
        "tags", F.map_filter(F.col("tags"), lambda k, _v: k != F.lit(key))
    )


def xf_drop_all(df: DataFrame) -> DataFrame:
    """Drop every event (the degenerate clear on a homogeneous frame)."""
    return df.filter(F.lit(False))


def xf_clear_metrics(df: DataFrame, class_col: str = "record_kind") -> DataFrame:
    """clear_metrics.lua — drop metric events, pass logs. On a mixed frame
    (``class_col`` present) only telemetry rows drop; a homogeneous
    telemetry frame empties."""
    if class_col in df.columns:
        return df.filter(F.col(class_col) != "telemetry")
    return df.filter(F.lit(False))


def xf_clear_logs(df: DataFrame, class_col: str = "record_kind") -> DataFrame:
    """clear_logs.lua — drop log events, pass metrics."""
    if class_col in df.columns:
        return df.filter(F.col(class_col) != "log")
    return df.filter(F.lit(False))


def xf_set_value(df: DataFrame, value: str, value_col: str = "line") -> DataFrame:
    """set_value.lua — overwrite the event's value/payload with a constant
    (payload.log_set_value(pyld, 1, "foo"))."""
    return df.withColumn(value_col, F.lit(value))


def xf_collectd_scrub(df: DataFrame) -> DataFrame:
    """collectd_scrub.lua — strip the host segment from collectd metric
    names: ``collectd[.@]<host>…`` → ``collectd…`` (the exact Lua pattern
    ``^(collectd)[%.@][%w_-]+(.*)``); non-collectd names pass unchanged."""
    return df.withColumn(
        "name", F.regexp_replace("name", r"^collectd[.@][\w-]+", "collectd")
    )


def xf_json_extract_fields(df: DataFrame, line_col: str = "line") -> DataFrame:
    """json_parse.lua — parse the payload as JSON into ``fields``."""
    return df.withColumn("fields", F.from_json(F.col(line_col), "map<string,string>"))


def xf_field_from_path(df: DataFrame, field: str = "filename") -> DataFrame:
    """field_from_path.lua — set a field from the log path's basename."""
    base = F.element_at(F.split(F.col("path"), "/"), -1)
    empty = F.expr("map()")
    fields = F.coalesce(F.col("fields"), empty) if "fields" in df.columns else empty
    return df.withColumn(
        "fields",
        F.map_zip_with(
            F.create_map(F.lit(field), base), fields, lambda _k, a, b: F.coalesce(a, b)
        ),
    )


def xf_tick_count(df: DataFrame, bin_col: str = "bin") -> DataFrame:
    """keep_count.lua — per-flush-window event count emitted as a metric
    (tests/programmable_filter.rs:466-576)."""
    return df.groupBy(bin_col).agg(F.count("*").alias("count_per_tick"))


def xf_metric_query(
    df: DataFrame,
    prob: float,
    bin_col: str = "bin",
    exact: bool = True,
    accuracy: int = 1000,
) -> DataFrame:
    """metric_query(q) — the Lua hook that queries the quantile structure of
    the current window's samples for a metric (programmable_filter.rs
    PAYLOAD_LIB 'metric_query' → telemetry.query()). Batch form: the
    per-(name, window) quantile joined back to every row as
    ``query_value``. Exact percentile for oracle parity; ``exact=False``
    uses the mergeable percentile_approx sketch (the CKMS analog) at scale."""
    q = (
        F.expr(f"percentile(value, {prob})")
        if exact
        else F.percentile_approx("value", F.lit(prob), F.lit(accuracy))
    )
    per_win = df.groupBy("name", bin_col).agg(q.alias("query_value"))
    return df.join(per_win, ["name", bin_col], "left")


#: The named-transform registry standing in for user Lua scripts. Coverage
#: of the reference integration suite's 15 scripts
#: (tests/programmable_filter.rs:13-699): identity, clear_metrics,
#: clear_logs, remove_keys→remove_tag, field_from_path, set_value,
#: add_keys→add_tag, json_parse→json_extract_fields, keep_count→tick_count,
#: collectd_scrub — direct transforms below. demonstrate_require exercises
#: the Lua module loader, whose analog here is the Python import system
#: every transform already uses (N/A as a transform). lua_error /
#: missing_func / insufficient_args exercise runtime-error handling —
#: covered by apply_programmable_safe's failure accounting.
PROGRAMMABLE_REGISTRY = {
    "identity": xf_identity,
    "name_rewrite": xf_name_rewrite,
    "add_tag": xf_add_tag,
    "remove_tag": xf_remove_tag,
    "drop_all": xf_drop_all,
    "clear_metrics": xf_clear_metrics,
    "clear_logs": xf_clear_logs,
    "set_value": xf_set_value,
    "collectd_scrub": xf_collectd_scrub,
    "json_extract_fields": xf_json_extract_fields,
    "field_from_path": xf_field_from_path,
    "tick_count": xf_tick_count,
    "metric_query": xf_metric_query,
}


def apply_programmable_safe(
    df: DataFrame, filter_path: str, func: str, /, **kwargs
) -> tuple[DataFrame, DataFrame]:
    """Failure-accounted filter application (programmable_filter.rs
    run_lua_func:576-618): a missing function or a function that errors
    emits a ``cernan.filter.<path>.<func>.failure`` Sum telemetry and the
    ORIGINAL events pass through unchanged. Returns (events, failures) —
    failures is an empty frame on success."""
    spark = df.sparkSession
    fail_schema = "name string, value double, kind string"
    ok = local_table(spark, [], fail_schema)
    try:
        out = PROGRAMMABLE_REGISTRY[func](df, **kwargs)
        # force plan resolution now: a bad transform must fail HERE, not at
        # the terminal action (mirrors pcall's eager error surface)
        out.schema  # noqa: B018
        return out, ok
    except Exception:  # noqa: BLE001 — NoSuchFunction / analysis error
        fail = local_table(
            spark,
            [(f"cernan.filter.{filter_path}.{func}.failure", 1.0, "SUM")],
            fail_schema,
        )
        return df, fail
