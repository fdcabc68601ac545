"""Fan-out routing: the routes dimension table drives per-sink streams.

Cernan clones every event into each configured forward channel
(util::send, reference src/util.rs:28-68) according to the TOML adjacency
matrix (src/matrix.rs:13-124). Spark-first: a broadcast join against the
routes table — one row per (event, matching sink) — which Catalyst executes
as a BroadcastNestedLoopJoin over a dimension table of a few dozen rules.
Events matching no route are dropped but counted
(UTIL_SEND_HOPPER_ERROR_FULL-style accounting).

At scale the fan-out write is ``partitionBy("sink")`` on one routed table
(single pass over the facts) rather than N separate scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _match(
    df: DataFrame,
    rules: DataFrame,
    id_col: str,
    how: str,
    kind_col: str,
    name_col: str,
) -> DataFrame:
    """Join ``df`` to the broadcast rules (``id_col``, match_kind,
    name_mask, sink): a rule matches a row when its ``match_kind`` equals
    ``df[kind_col]`` and its ``name_mask`` regex matches ``df[name_col]``.
    Keeps ``id_col`` and ``sink`` from the rule side."""
    r = F.broadcast(
        rules.select(
            id_col,
            F.col("match_kind").alias("_mk"),
            F.col("name_mask").alias("_mask"),
            "sink",
        )
    )
    cond = (F.col(kind_col) == F.col("_mk")) & F.regexp_like(
        F.col(name_col), F.col("_mask")
    )
    return df.join(r, cond, how).drop("_mk", "_mask")


def route(
    df: DataFrame,
    routes: DataFrame,
    kind_col: str = "match_kind_value",
    name_col: str = "name",
) -> DataFrame:
    """Attach (rule_id, sink) per matching route; one output row per match.

    ``df[kind_col]`` is the event class ('telemetry' | 'log' | 'raw');
    ``name_mask`` is a regex over the metric name (or log path).
    """
    return _match(df, routes, "rule_id", "inner", kind_col, name_col)


def unrouted(
    df: DataFrame,
    routes: DataFrame,
    kind_col: str = "match_kind_value",
    name_col: str = "name",
) -> DataFrame:
    """Events matching no route — dropped with count (anti join)."""
    return _match(df, routes, "rule_id", "left_anti", kind_col, name_col)


def routed_counts(routed: DataFrame) -> DataFrame:
    """Per-sink routed-row counts — the golden per-sink count check."""
    return routed.groupBy("sink").agg(F.count("*").alias("n_rows"))


#: sinks a route may legally forward to (the configured sink set)
KNOWN_SINKS = frozenset(
    {"console", "wavefront", "prometheus", "influxdb", "elasticsearch",
     "kafka", "native", "null"}
)


def validate_routes(routes: DataFrame, known_sinks=KNOWN_SINKS) -> None:
    """Topology validation at job start (reference src/bin/cernan.rs:406-420:
    every configured forward must resolve to an existing node, else the
    process exits). Raises ValueError listing dangling forwards. The routes
    table is tiny config — collecting it driver-side is the point."""
    sinks = {r["sink"] for r in routes.select("sink").distinct().collect()}
    dangling = sorted(sinks - set(known_sinks))
    if dangling:
        raise ValueError(
            "unable to fulfill configured forward(s): "
            + ", ".join(f"=> {s}" for s in dangling)
        )


def route_preflight(
    df: DataFrame,
    routes_current: DataFrame,
    routes_proposed: DataFrame,
    kind_col: str = "match_kind_value",
    name_col: str = "name",
) -> DataFrame:
    """Config-change preflight: per-sink routed-row counts under the
    CURRENT topology vs a PROPOSED one, in ONE pass — the diff an
    operator reads before shipping a routes edit (the reference aborts
    on a dangling forward at startup, cernan.rs:406-420; this answers
    the next question: what would the edit DO to traffic?).

    Both route sets broadcast with a version tag, so the fan-out join
    runs once over the stream and the diff is a sink-grain pivot —
    at 100 TB the preflight costs one routed pass, not two.
    """
    cols = ["match_kind", "name_mask", "sink"]
    tagged = routes_current.select(F.lit("cur").alias("_v"), *cols).unionByName(
        routes_proposed.select(F.lit("new").alias("_v"), *cols)
    )
    hits = _match(df, tagged, "_v", "inner", kind_col, name_col)
    return (
        hits.groupBy("sink")
        .agg(
            F.sum((F.col("_v") == "cur").cast("long")).alias("n_current"),
            F.sum((F.col("_v") == "new").cast("long")).alias("n_proposed"),
        )
        .select(
            "sink",
            "n_current",
            "n_proposed",
            (F.col("n_proposed") - F.col("n_current")).alias("delta"),
        )
    )
