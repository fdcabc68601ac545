"""Statsd line parsing as pure column expressions (JVM-side, codegen'd).

Grammar (reference /root/reference/src/protocols/statsd.rs:22-163):

    name:value|type[|@rate]      and the no-pipe form   name:value|type@rate

* type ``c``  → kind Sum, persist false
* type ``g``  → persist true; signed value (leading +/-) → kind Sum
  (delta gauge), else kind Set
* type ``ms``/``h`` → kind Summarize, persist false — unless the name
  matches a histogram mask rule, then kind Histogram
  (statsd.rs:105-115,135-145); the aggregate buckets it by the rule's
  bounds (:func:`mask_bounds_expr`)
* any type with a sample rate scales ``value * (1/rate)``
  (statsd.rs:66-116)
* name may contain ``=``, ``/``, ``-``; it is everything before the first
  ``:``; empty name / missing pipe / non-numeric value or rate → bad line
  (counted, not crashed; statsd.rs:553-573)

Kinds are encoded as strings SUM | SET | SUMMARIZE | HISTOGRAM.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cernan_spark.operators.aggregate import MAX_HIST_BUCKETS

KIND_SUM = "SUM"
KIND_SET = "SET"
KIND_SUMMARIZE = "SUMMARIZE"
KIND_HISTOGRAM = "HISTOGRAM"


def _slice(df: DataFrame, line: Column) -> DataFrame:
    """``df`` plus ``_sl`` = struct(n, v, t), the reference's single
    find(':')/find('|') scan (statsd.rs:553-573):

    * n = chars before the FIRST ':' ('' when absent / line starts ':')
    * v = chars between the first ':' and the FIRST '|' after it
    * t = everything after that '|'

    The colon is found once and the pipe once, on the line itself from
    just past the colon; each slice is then one ``substr`` of the line.
    Both positions are staged in their own projection, each consumed
    more than once above it, so CollapseProject keeps them apart rather
    than copying the scans into every slice. The slices materialize
    behind a single-element ``explode`` (see :func:`parse_statsd_lines`).
    """
    colon = df.select("*", F.instr(line, ":").alias("_sc"))
    c = F.col("_sc")
    # 0 without a colon: a pipe before no colon slices nothing
    pipe = colon.select(
        "*",
        F.when(
            c > 0, F.call_function("locate", F.lit("|"), line, c + 1)
        ).otherwise(F.lit(0)).alias("_sp"),
    )
    p = F.col("_sp")
    to_end = F.lit(1 << 30)  # open-ended substr length
    return pipe.select(
        "*",
        F.explode(
            F.array(
                F.struct(
                    F.when(c > 0, line.substr(F.lit(1), c - 1))
                    .otherwise(F.lit("")).alias("n"),
                    F.when(p > 0, line.substr(c + 1, p - c - 1))
                    .otherwise(F.lit("")).alias("v"),
                    F.when(p > 0, line.substr(p + 1, to_end))
                    .otherwise(F.lit("")).alias("t"),
                )
            )
        ).alias("_sl"),
    )


def _outputs_from_slices(
    name: Column, val_str: Column, tyrate: Column
) -> list[Column]:
    """(name, value, kind, persist, is_valid) from the three raw slices.
    Numeric validity stays on ``try_cast`` (NOT a number-shaped regex) so
    values like ``' 1.5 '``, ``'NaN'``, ``'inf'`` keep the exact cast
    semantics the golden/model tests and the DuckDB oracles pin."""
    # 'c|@0.2' and 'c@0.2' both → ty 'c' (pipe stripped only in the rate
    # form — a bare trailing pipe like 'c|' is invalid, statsd.rs:120-148)
    ty_part = F.substring_index(tyrate, "@", 1)
    has_rate = tyrate.contains("@")
    ty = F.when(
        has_rate & ty_part.endswith("|"),
        F.substring(ty_part, 1, F.length(ty_part) - 1),
    ).otherwise(ty_part)
    rate_str = F.when(
        has_rate, F.substring(tyrate, F.length(ty_part) + 2, F.lit(1 << 30))
    )

    raw_val = val_str.try_cast("double")
    rate = rate_str.try_cast("double")
    valid = (
        (F.length(name) > 0)
        & (F.length(val_str) > 0)
        & raw_val.isNotNull()
        & ty.isin("c", "g", "ms", "h")
        & (~has_rate | (rate.isNotNull() & (F.length(rate_str) > 0)))
    )
    signed = F.substring(val_str, 1, 1).isin("+", "-")
    # rate 0 → ×(1/0.0) = +inf in the reference's f64 arithmetic
    # (statsd.rs:66-116); under ANSI a plain division would CRASH the job
    # on one '@0' line, so the zero case is branched around explicitly
    inv_rate = F.when(rate == 0, F.lit(float("inf"))).otherwise(
        F.lit(1.0) / rate
    )
    value = F.when(has_rate, raw_val * inv_rate).otherwise(raw_val)

    kind = (
        F.when(ty == "c", F.lit(KIND_SUM))
        .when((ty == "g") & signed, F.lit(KIND_SUM))
        .when(ty == "g", F.lit(KIND_SET))
        .otherwise(F.lit(KIND_SUMMARIZE))
    )
    persist = ty == "g"

    return [
        F.when(valid, name).alias("name"),
        F.when(valid, value).alias("value"),
        F.when(valid, kind).alias("kind"),
        F.when(valid, persist).otherwise(F.lit(None).cast("boolean")).alias("persist"),
        valid.alias("is_valid"),
    ]


def mask_bounds_expr(masks: DataFrame, name_col: str = "name") -> Column:
    """First-match-wins name→bounds CASE chain compiled from the tiny mask
    rules table (collected driver-side): a pure codegen'd expression — no
    join/window/shuffle on the fact table. The reference scans masks
    linearly per metric the same way (statsd.rs:105-115).

    Raises ``ValueError`` naming the mask of a rule whose bounds the bucket
    aggregate cannot hold: more than ``MAX_HIST_BUCKETS`` of them, or not
    strictly ascending (a bucket is labelled by the first bound at or
    above its values)."""
    rules = sorted(
        masks.select("mask", "bounds", "priority").collect(),
        key=lambda r: r["priority"],
    )
    expr = F.lit(None).cast("array<double>")
    for r in reversed(rules):
        bounds = [float(b) for b in r["bounds"]]
        if len(bounds) > MAX_HIST_BUCKETS:
            raise ValueError(
                f"histogram mask {r['mask']!r}: {len(bounds)} bounds, "
                f"at most {MAX_HIST_BUCKETS} allowed"
            )
        if not all(lo < hi for lo, hi in zip(bounds, bounds[1:])):
            raise ValueError(
                f"histogram mask {r['mask']!r}: bounds {bounds} are not "
                "strictly ascending"
            )
        expr = F.when(
            F.col(name_col).rlike(r["mask"]),
            F.array(*[F.lit(b) for b in bounds]),
        ).otherwise(expr)
    return expr


def parse_statsd_lines(
    df: DataFrame,
    line_col: str = "line",
    masks: DataFrame | None = None,
    keep_invalid: bool = False,
) -> DataFrame:
    """Parse a DataFrame of statsd lines into typed telemetry rows.

    Adds (name, value, kind, persist, is_valid). If ``masks`` is given
    (mask regex → bounds, priority), Summarize rows whose name matches a
    mask are upgraded to Histogram — a CASE chain over the tiny rules
    table, mirroring the reference's linear mask scan
    (statsd.rs:105-115). The rule's bounds are not carried per row: the
    aggregate decides them once (``bounds_expr=mask_bounds_expr(masks)``).

    Each line is scanned once, as the reference scans it
    (statsd.rs:553-573): the first ':' is found once, the first '|' after
    it once, on the line itself, and each of the three raw slices (name,
    value, type-and-rate) is one ``substr`` of the line — no copy of the
    text after the colon is built and rescanned (:func:`_slice`).

    The three raw slices materialize ONCE per row behind a single-element
    ``explode`` (a Generate node): CollapseProject cannot inline the
    consumer projection through it, so the five outputs read cheap struct
    fields instead of each re-deriving the scan. This keeps the fused
    parse→aggregate codegen method far below janino's 64 KB limit (the
    nested form overflowed it and silently ran interpreted, 6.7× slower
    at 2M lines) AND evaluates the slicing exactly once per row (a regex
    re-slicing variant that stayed under the limit still re-matched per
    consumer column — measured 2× slower on the bucket aggregates than
    this form).
    """
    sliced = _slice(df, F.col(line_col))
    out = sliced.select(
        *df.columns,
        *_outputs_from_slices(
            F.col("_sl.n"), F.col("_sl.v"), F.col("_sl.t")
        ),
    )
    if not keep_invalid:
        out = out.filter(F.col("is_valid"))

    if masks is not None:
        out = upgrade_histograms(out, mask_bounds_expr(masks))
    return out


def upgrade_histograms(parsed: DataFrame, bounds: Column) -> DataFrame:
    """Upgrade the Summarize rows of parsed statsd whose ``bounds`` (a
    :func:`mask_bounds_expr`) is non-null to Histogram. Taking the built
    expression lets a caller that also hands it to the aggregate collect
    the mask table once."""
    masked = (F.col("kind") == KIND_SUMMARIZE) & bounds.isNotNull()
    return parsed.withColumn(
        "kind", F.when(masked, F.lit(KIND_HISTOGRAM)).otherwise(F.col("kind"))
    )
