"""Temporal joins and counter semantics.

Two operator families the reference implies but never names:

* **As-of (point-in-time) join** — cernan reloads its routing/filter
  config on SIGHUP and every line is routed under the config version in
  force when it arrived (`/root/reference/src/lib.rs` config-reload path;
  the programmable-filter topology is rebuilt per reload). In a batch
  rebuild over history that is exactly an as-of join: each turn joins the
  latest config version with ``valid_from <= ts``. Spark has no ASOF
  relation; :func:`asof_join_broadcast` packs each key's versions (the
  dimension side is tiny: config versions) into one sorted array,
  broadcasts that, equi-joins on the key alone, and picks the as-of
  version with a sorted-array ``filter`` + ``element_at(-1)``. No shuffle
  and no row multiplication of the fact side at all.

* **Counter increase / reset detection** — prometheus counters are
  cumulative and wrap on process restart; ``increase()`` semantics say a
  drop in the raw series is a restart and the post-reset value is the
  increase (the sink-side mirror of cernan's perpetual SUM accumulators,
  `/root/reference/src/sink/prometheus.rs:279-310`, which only ever add).
  :func:`counter_increase` recovers per-sample deltas from a sampled
  cumulative series: ``lag`` per series, negative delta → reset.

Both are pure column expressions over built-in window/aggregate
functions — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join_broadcast(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_ts: str,
    right_ts: str,
    payload_cols: list[str],
) -> DataFrame:
    """Point-in-time join with a broadcast-sized right side.

    For each left row, attach ``payload_cols`` from the right row with the
    greatest ``right_ts <= left_ts`` for the same key. Left rows with no
    eligible right row keep NULL payloads (left join).

    Plan shape: the right side collapses to ONE row per key holding a
    sorted ``array<struct<ts, payload...>>`` of its versions (a trivial
    aggregate over the dimension), which broadcasts; the fact side then
    does a plain BroadcastHashJoin on the key and picks the version with
    ``element_at(filter(versions, v -> v.ts <= left_ts), -1)`` — the
    array is sorted, so the last surviving element IS the as-of row.
    ``sort_array`` orders the struct lexicographically, so duplicate
    version timestamps deterministically resolve to the max payload. The
    fact side is never shuffled and never multiplied: at 100 TB this is
    pure scan-local work, strictly better than a range-predicate join
    that fans each left row out to every eligible version first.
    """
    lcols = left.columns
    versions = right.groupBy(*key_cols).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(right_ts).alias("__ts"),
                    *[F.col(c) for c in payload_cols],
                )
            )
        ).alias("__versions")
    )
    joined = left.join(F.broadcast(versions), key_cols, "left")
    lts = F.col(left_ts)
    # try_element_at: the filtered array is EMPTY for left rows older than
    # the first version (and for keys with no versions at all) — plain
    # element_at raises under ANSI mode; NULL is the wanted left-join value.
    pick = F.try_element_at(
        F.filter("__versions", lambda v: v["__ts"] <= lts), F.lit(-1)
    )
    return joined.select(
        *lcols, *[pick[c].alias(c) for c in payload_cols]
    )


def counter_increase(
    df: DataFrame,
    series_cols: list[str],
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Per-sample ``increase()`` over a sampled cumulative counter series.

    Adds three columns: ``prev_value`` (lag within the series),
    ``is_reset`` (value dropped → the process restarted and the counter
    re-started from zero), and ``increase`` — the prometheus rule:

    * first sample of a series → increase ``value`` (counter born at 0),
    * monotonic step → ``value - prev_value``,
    * reset → ``value`` (everything since the restart).

    One window shuffle keyed on the series; a hot series chunks the same
    way sessionize does (operators/skew.sessionize_chunked) — not wired
    here because scrape series are bounded by scrape interval × retention.
    """
    w = Window.partitionBy(*series_cols).orderBy(order_col)
    prev = F.lag(value_col).over(w)
    reset = F.when(prev.isNull(), F.lit(False)).otherwise(F.col(value_col) < prev)
    inc = (
        F.when(prev.isNull(), F.col(value_col))
        .when(F.col(value_col) < prev, F.col(value_col))
        .otherwise(F.col(value_col) - prev)
    )
    return (
        df.withColumn("prev_value", prev)
        .withColumn("is_reset", reset)
        .withColumn("increase", inc)
    )


def cdc_upsert_snapshot(
    changes: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Compact a change log into its current snapshot: last writer wins
    per key, a trailing delete tombstones the key out. This is the MERGE
    INTO / CDC-compaction semantic an Iceberg sink would run (the jar is
    absent from this image — see plans/sinks.py — so the compaction is
    expressed engine-side; reference analog: cernan's last-write-wins SET
    buckets, /root/reference/src/buckets.rs set path).

    ONE hash aggregate: max_by(struct(op, payload), order) per key — the
    winner is picked with an order-total max (order_cols must be a total
    order, e.g. (ts, event_id)), so the plan is a single map-side-combined
    exchange; no window, no sort of the full log. Keys whose last change
    is a delete are filtered AFTER the aggregate (tombstones cost one
    boolean filter, never a join).
    """
    payload = [c for c in changes.columns if c not in key_cols]
    ordk = F.struct(*[F.col(c) for c in order_cols])
    snap = changes.groupBy(*key_cols).agg(
        F.max_by(F.struct(*payload), ordk).alias("__last"),
        F.count(F.lit(1)).alias("n_changes"),
    )
    out = snap.select(
        *key_cols,
        *[F.col(f"__last.{c}").alias(c) for c in payload],
        "n_changes",
    )
    return out.filter(F.col(op_col) != delete_op).drop(op_col)


def ewma_fold(
    series: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str = "value",
) -> DataFrame:
    """Exponentially-weighted moving average per series, α = 1/2:
    ``y₀ = x₀;  yₜ = (yₜ₋₁ + xₜ) · 0.5`` — the classic telemetry
    smoother (cernan leaves smoothing to downstream sinks like
    wavefront; here it is an engine operator). α is fixed at 1/2 so the
    update is ONE IEEE add + ONE exact halving — both correctly rounded,
    so with the fold order pinned by ``order_cols`` the result is
    bit-identical cross-engine (a general α·x + (1−α)·y update has two
    roundings whose composition differs by summation strategy).

    Plan: ONE hash aggregate collects each series into a sorted array
    (``sort_array(collect_list(struct(order, value)))``), then a narrow
    ``F.aggregate`` fold. State per series is the series itself — the
    right shape when series are bounded (a window of samples per key);
    an unbounded series would run the streaming gauge fold
    (streaming/pipeline.py) instead, whose state is O(1).
    """
    ordered = F.sort_array(
        F.collect_list(
            F.struct(*[F.col(c) for c in order_cols], F.col(value_col).alias("__v"))
        )
    )
    vals = F.transform(ordered, lambda t: t["__v"].cast("double"))
    folded = F.aggregate(
        vals,
        F.struct(
            F.lit(0.0).alias("y"), F.lit(False).alias("started")
        ),
        lambda acc, x: F.struct(
            F.when(acc["started"], (acc["y"] + x) * F.lit(0.5))
            .otherwise(x)
            .alias("y"),
            F.lit(True).alias("started"),
        ),
    )
    return series.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n_samples"),
        folded["y"].alias("__y"),
    ).select(
        *key_cols,
        "n_samples",
        # duck_round: the frozen oracle rounds the double through
        # DuckDB's lossy ×10⁹ pipeline; at sf0.1 15/7500 rows land on
        # the other side of the .5 boundary under Spark's exact round
        duck_round(F.col("__y"), 9).alias("ewma"),
    )


def interval_bucket_join(
    points: DataFrame,
    intervals: DataFrame,
    epoch_col: str = "epoch",
    start_col: str = "win_start",
    end_col: str = "win_end",
    bucket_seconds: int = 3600,
    agg_cents_col: str = "cents",
) -> DataFrame:
    """Range (interval) join without an equi key: count points falling
    inside each ``[start, end)`` interval, via bucketization.

    Spark's only native plan for a pure θ-join is a broadcast
    nested-loop — O(|points|·|intervals|) work even when both sides are
    indexed by time. The scale plan instead manufactures an equi key:
    intervals explode to the coarse time buckets they cover
    (``sequence(start ÷ b, (end−1) ÷ b)``), points map to their single
    bucket, and the join is a plain hash equi-join on the bucket with
    the exact range predicate applied as a post-filter. Because a point
    lives in EXACTLY ONE bucket, a (point, interval) pair can match
    through only one bucket — no dedup pass is needed (the classic
    pitfall of interval bucketing, avoided by construction). Work is
    O(points + Σ interval_spans/b + matches).

    Intervals may overlap; each keeps its own row. Sums are integer
    cents, so aggregate equality is exact under any shuffle order.
    """
    b = F.lit(bucket_seconds)
    # empty/inverted intervals are dropped BEFORE the sequence: Spark's
    # sequence(a, b) silently steps DOWNWARD when a > b, which would
    # explode an empty [s, e) (e ≤ s) into spurious buckets
    iv = intervals.filter(F.col(end_col) > F.col(start_col)).withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / b),
                F.floor((F.col(end_col) - 1) / b),
            )
        ),
    )
    pt = points.withColumn("__bucket", F.floor(F.col(epoch_col) / b))
    hits = pt.join(iv, "__bucket").filter(
        (F.col(epoch_col) >= F.col(start_col)) & (F.col(epoch_col) < F.col(end_col))
    )
    return hits.groupBy(start_col, end_col).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(agg_cents_col).alias("sum_cents"),
    )


def series_gaps(
    series: DataFrame,
    key_cols: list[str],
    epoch_col: str,
    max_gap_s: int,
) -> DataFrame:
    """Staleness / heartbeat-gap detection: for every per-series pair of
    consecutive samples more than ``max_gap_s`` apart, emit one gap row
    ``(keys…, gap_start, gap_end, gap_s)``. This is the reporting dual of
    the wavefront zero-padding fill (operators/aggregate.py zero_pad;
    reference /root/reference/src/sink/wavefront.rs last-seen padding):
    padding hides a silent series, gap detection PAGES on it.

    One ``lag`` over the series partitioning — a single exchange, and
    series count scales with the data. Pure integer epoch arithmetic, so
    the oracle replays it exactly.
    """
    w = Window.partitionBy(*key_cols).orderBy("__e")
    return (
        series.select(*key_cols, F.col(epoch_col).cast("long").alias("__e"))
        .withColumn("__prev", F.lag("__e").over(w))
        .filter(F.col("__e") - F.col("__prev") > max_gap_s)
        .select(
            *key_cols,
            F.col("__prev").alias("gap_start"),
            F.col("__e").alias("gap_end"),
            (F.col("__e") - F.col("__prev")).alias("gap_s"),
        )
    )


def cdc_snapshot_diff(
    changes: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    epoch_col: str,
    t1: int,
    t2: int,
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Time travel over a change log without an Iceberg catalog: rebuild
    the table snapshot AS OF two epochs (:func:`cdc_upsert_snapshot` on
    the log prefix — the snapshot-isolation read an Iceberg
    ``VERSION AS OF`` would serve; the jar is absent from this image, see
    plans/sinks.py) and diff them. One full-outer join on the key emits
    ``added`` / ``removed`` / ``changed`` rows; unchanged keys are
    filtered out. Each snapshot is one map-side-combined aggregate over
    its (pruned) log prefix."""
    def snap(t: int, tag: str) -> DataFrame:
        s = cdc_upsert_snapshot(
            changes.filter(F.col(epoch_col) <= t),
            key_cols,
            order_cols,
            op_col=op_col,
            delete_op=delete_op,
        )
        keep = [c for c in s.columns if c not in key_cols]
        return s.select(
            *key_cols, *[F.col(c).alias(f"{c}_{tag}") for c in keep]
        )
    a, b = snap(t1, "t1"), snap(t2, "t2")
    payload = [c[: -len("_t1")] for c in a.columns if c.endswith("_t1")]
    probe = payload[0]
    joined = a.join(b, key_cols, "full_outer")
    status = (
        F.when(F.col(f"{probe}_t1").isNull(), "added")
        .when(F.col(f"{probe}_t2").isNull(), "removed")
        .otherwise("changed")
    )
    changed = [
        F.col(f"{c}_t1").eqNullSafe(F.col(f"{c}_t2")) for c in payload
    ]
    same = changed[0]
    for c in changed[1:]:
        same = same & c
    return joined.withColumn("status", status).filter(
        F.col(f"{probe}_t1").isNull() | F.col(f"{probe}_t2").isNull() | ~same
    )


def scd2_intervals(
    changes: DataFrame,
    key_cols: list[str],
    order_col: str,
    ts_col: str,
    attr_col: str,
) -> DataFrame:
    """Slowly-changing-dimension type 2 from an append-only change log.

    Collapse consecutive rows whose ``attr_col`` did not change (a
    heartbeat re-asserting the same value is not a new version), then cut
    validity intervals at the remaining change points::

        key_cols..., attr, valid_from_e, valid_to_e, is_current

    ``valid_to_e`` is the next version's ``valid_from_e`` (half-open
    interval, the as-of-join convention of :func:`asof_join_broadcast`);
    the open current version carries ``valid_to_e = NULL`` and
    ``is_current = 1``. This is the batch rebuild of cernan's config-reload
    versioning (every record routed under the config in force when it
    arrived — reference `/root/reference/src/lib.rs` SIGHUP reload path):
    the SCD2 table is the dimension an as-of join consumes.

    Plan: both windows and the change filter cluster on ``key_cols`` —
    ONE exchange end to end, no self-join (the lead() replaces the
    classic "join next version" formulation, which shuffles twice).
    """
    w = Window.partitionBy(*key_cols).orderBy(order_col)
    epoch = F.floor(F.unix_timestamp(F.col(ts_col))).cast("bigint")
    marked = changes.select(
        *key_cols,
        F.col(order_col),
        F.col(attr_col).alias("attr"),
        epoch.alias("valid_from_e"),
    ).withColumn(
        "_chg",
        F.lag("attr").over(w).isNull() | (F.lag("attr").over(w) != F.col("attr")),
    )
    versions = marked.filter(F.col("_chg")).drop("_chg")
    nxt = F.lead("valid_from_e").over(w)
    return versions.select(
        *key_cols,
        "attr",
        "valid_from_e",
        nxt.alias("valid_to_e"),
        nxt.isNull().cast("int").alias("is_current"),
    )


def decayed_counts(
    df: DataFrame,
    key_cols: list[str],
    age_col: str,
    max_age: int,
) -> DataFrame:
    """Exponentially-decayed heavy hitters with EXACT cross-engine sums.

    Per key, the decayed count ``Σ 2^(−age)`` (half-life = one age unit,
    ages clamped to ``max_age``) — the freshness-weighted ranking a
    telemetry sink uses to age out cold series (cernan expires idle
    series at flush, reference `/root/reference/src/buckets.rs` reset
    path; the decayed count is the soft version of that hard expiry).

    Exactness trick: every term is scaled by ``2^max_age`` so the sum is
    a plain BIGINT — ``Σ 2^(max_age−age)`` — and the single final
    division by ``2^max_age`` is the only floating-point op. Any fold
    order gives the same bits in any engine (the r3-established float
    discipline). BIGINT headroom: the scaled sum caps at
    ``n_rows·2^max_age``, so ``max_age ≤ 30`` keeps 2^33 rows safe —
    at larger corpora shrink ``max_age`` or pre-aggregate per age.

    One map-side-combined hash aggregate; nothing else.
    """
    age = F.least(F.col(age_col), F.lit(max_age))
    scaled = F.pow(F.lit(2.0), (F.lit(max_age) - age)).cast("bigint")
    return df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(scaled) / F.lit(float(2**max_age))).alias("decayed"),
    )


def peak_range_load(
    df: DataFrame,
    key_cols: list[str],
    epoch_col: str,
    value_col: str,
    range_s: int,
) -> DataFrame:
    """Peak sliding-window load per key: the maximum, over all row
    positions, of the value total inside the trailing ``range_s``-second
    TIME window (``rangeBetween``, not ``rowsBetween`` — the window is
    defined by timestamps, so sparse and dense regions are compared
    fairly). This is the capacity-planning number ("worst 2 h of load"),
    and the RANGE frame is the Spark feature the rest of the repo's
    row-frame windows don't exercise.

    Integer sums only. ONE exchange: the range window and the per-key max
    share the key clustering.
    """
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col(epoch_col))
        .rangeBetween(-(range_s - 1), 0)
    )
    load = df.withColumn("_win", F.sum(value_col).over(w))
    return load.groupBy(*key_cols).agg(
        F.max("_win").alias("peak_load"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def disorder_profile(
    df: DataFrame,
    key_cols: list[str],
    arrival_cols: list[str],
    ts_col: str,
    coverage_s: int = 60,
) -> DataFrame:
    """Out-of-order arrival profile per stream — the measurement that
    sizes a Structured Streaming watermark. For each row, lateness is
    how far its event time sits behind the maximum event time already
    arrived in its stream (running max over arrival order, PRIOR rows
    only — a row is never late against itself). Reports, per key: row
    and late counts, the worst lateness, and the fraction of rows a
    ``coverage_s``-second watermark would have admitted — pick the
    delay where coverage clears the pipeline's loss budget
    (streaming/pipeline.py applies exactly such a delay;
    q_streaming_late_drops shows what the chosen delay drops).

    All lateness values are exact integer microseconds; the two emitted
    ratios are single divisions of exact counts. The running-max window
    and the final aggregate cluster on the stream key — ONE exchange.
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(*[F.col(c) for c in arrival_cols])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    late_us = F.greatest(F.lit(0), F.coalesce(F.max(us).over(w) - us, F.lit(0)))
    prof = df.withColumn("_late_us", late_us)
    n = F.count(F.lit(1))
    return prof.groupBy(*key_cols).agg(
        n.alias("n_rows"),
        F.sum((F.col("_late_us") > 0).cast("long")).alias("n_late"),
        F.max("_late_us").alias("max_lateness_us"),
        F.sum("_late_us").alias("sum_lateness_us"),
        (
            F.sum((F.col("_late_us") > 0).cast("long")).cast("double")
            / n.cast("double")
        ).alias("pct_late"),
        (
            F.sum((F.col("_late_us") <= coverage_s * 1_000_000).cast("long")).cast(
                "double"
            )
            / n.cast("double")
        ).alias("coverage"),
    )


def partition_checksum_diff(
    old: DataFrame,
    new: DataFrame,
    part_col: Column | str,
    row_canon: Column,
) -> DataFrame:
    """Changed-partition detection for incremental recompute: checksum
    every partition of two table snapshots (sum of portable row hashes
    — commutative, so partition-order-free and map-side combinable) and
    emit one row per partition with both counts, both checksums, and a
    ``changed`` verdict. The downstream backfill re-runs ONLY changed
    partitions — the planning step that turns a 100 TB daily recompute
    into a handful of partition jobs. ``row_canon`` is the caller's
    canonical row string (include every column that matters; the hash
    is `functions/porthash.py`'s 31-bit fold, bit-identical in the SQL
    twin). A partition present in one snapshot only is ``changed`` with
    the missing side's count/checksum at 0.
    """
    from cernan_spark.functions.porthash import portable_hash

    p = F.col(part_col) if isinstance(part_col, str) else part_col

    def prof(df: DataFrame, tag: str) -> DataFrame:
        return df.select(p.alias("part"), portable_hash(row_canon).alias("h")).groupBy(
            "part"
        ).agg(
            F.count(F.lit(1)).alias(f"n_{tag}"),
            F.sum("h").alias(f"sum_{tag}"),
        )

    j = prof(old, "old").join(prof(new, "new"), "part", "full_outer")
    z = lambda c: F.coalesce(F.col(c), F.lit(0))
    return j.select(
        "part",
        z("n_old").alias("n_old"),
        z("n_new").alias("n_new"),
        z("sum_old").alias("checksum_old"),
        z("sum_new").alias("checksum_new"),
        (
            (z("n_old") != z("n_new")) | (z("sum_old") != z("sum_new"))
        ).cast("int").alias("changed"),
    )


def watermark_advisor(
    df: DataFrame,
    key_cols: list[str],
    arrival_cols: list[str],
    ts_col: str,
    pct: int = 99,
) -> DataFrame:
    """Turns :func:`disorder_profile`'s measurement into the DECISION: the
    exact p``pct`` of observed lateness per stream, rank-selected (no
    approx sketch), plus the whole-second watermark delay that covers it
    and the exact fraction of rows that delay admits. This is the number
    an operator types into ``withWatermark`` — sized from data instead
    of folklore.

    target rank = ceil(pct·n/100) computed in integer arithmetic; all
    lateness is exact integer microseconds; the one ratio is a single
    division of exact counts. Plan: the lateness window, the rank
    window and both aggregates all cluster on the stream key — the key
    exchange happens once, everything after is key-grain.
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(*[F.col(c) for c in arrival_cols])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    late = F.greatest(F.lit(0), F.coalesce(F.max(us).over(w) - us, F.lit(0)))
    prof = df.select(*key_cols, *arrival_cols, late.alias("_late_us"))
    wr = Window.partitionBy(*key_cols).orderBy(
        F.col("_late_us").asc(), *[F.col(c).asc() for c in arrival_cols]
    )
    wk = Window.partitionBy(*key_cols)
    ranked = prof.select(
        *key_cols,
        "_late_us",
        F.row_number().over(wr).alias("_rn"),
        F.count(F.lit(1)).over(wk).alias("_n"),
    )
    target = F.floor(
        (F.lit(pct) * F.col("_n") + F.lit(100 - 1)) / F.lit(100)
    ).cast("long")
    p = ranked.groupBy(*key_cols).agg(
        F.max("_n").alias("n_rows"),
        F.max(F.when(F.col("_rn") == target, F.col("_late_us"))).alias(
            f"p{pct}_late_us"
        ),
    )
    rec_s = F.floor(
        (F.col(f"p{pct}_late_us") + 999_999) / F.lit(1_000_000)
    ).cast("long")
    p = p.select(*key_cols, "n_rows", f"p{pct}_late_us", rec_s.alias("rec_watermark_s"))
    cov = (
        prof.join(F.broadcast(p), key_cols)
        .groupBy(*key_cols)
        .agg(
            (
                F.sum(
                    (
                        F.col("_late_us")
                        <= F.col("rec_watermark_s") * 1_000_000
                    ).cast("long")
                ).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("coverage_at_rec")
        )
    )
    return p.join(cov, key_cols)


def holt_forecast(
    series: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str = "value",
) -> DataFrame:
    """Holt double-exponential smoothing per series, α = β = 1/2 — the
    trend-aware sibling of :func:`ewma_fold` (which tracks level only and
    lags any drifting metric by construction). Recurrence:

        l₀ = y₀, b₀ = 0
        l_t = (y_t + (l_{t−1} + b_{t−1})) · 0.5
        b_t = ((l_t − l_{t−1}) + b_{t−1}) · 0.5

    Fixing both gains at 1/2 makes every update a couple of IEEE adds
    plus exact halvings — correctly rounded ops in a pinned fold order
    (sorted by ``order_cols``), so the DuckDB struct-accumulator
    ``list_reduce`` replays it bit-identically.

    Same plan shape as ``ewma_fold``: ONE hash aggregate collects each
    bounded series, then a narrow fold; use on rollup series (hourly
    grain), never raw events.

    Output per key: ``*key_cols, n_points, level, trend, forecast_1``
    (the one-step-ahead forecast l + b).
    """
    ordered = F.sort_array(
        F.collect_list(
            F.struct(
                *[F.col(c) for c in order_cols],
                F.col(value_col).alias("__v"),
            )
        )
    )
    vals = F.transform(ordered, lambda t: t["__v"].cast("double"))
    init = F.struct(
        F.lit(0.0).alias("l"),
        F.lit(0.0).alias("b"),
        F.lit(False).alias("st"),
    )

    def step(acc, x):
        l_new = (x + (acc["l"] + acc["b"])) * F.lit(0.5)
        b_new = ((l_new - acc["l"]) + acc["b"]) * F.lit(0.5)
        return F.struct(
            F.when(acc["st"], l_new).otherwise(x).alias("l"),
            F.when(acc["st"], b_new).otherwise(F.lit(0.0)).alias("b"),
            F.lit(True).alias("st"),
        )

    folded = F.aggregate(vals, init, step)
    return series.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(folded["l"], 6).alias("level"),
        F.round(folded["b"], 6).alias("trend"),
        F.round(folded["l"] + folded["b"], 6).alias("forecast_1"),
    )


def stl_decompose(
    hourly: DataFrame,
    key_cols: list[str],
    hour_col: str,
    value_col: str,
    half_window: int = 12,
    season: int = 24,
) -> DataFrame:
    """STL-lite decomposition of a bounded per-key hourly series into
    trend + seasonal + residual — the classical decomposition a
    telemetry pipeline runs before alerting on deviations (compose with
    ``anomaly.seasonal_baseline``, which models the raw values; this
    models the DETRENDED values, so a ramping metric doesn't masquerade
    as seasonality).

    * trend_t — centered moving average over ±half_window rows
      (emitted only where the window is COMPLETE, the standard edge
      rule): one exact integer sum, one division.
    * seasonal_s — per (key, hour-of-season) mean of (y − trend),
      folded in hour order (pinned).
    * residual stats — mean |y − trend − seasonal| per slot, folded in
      hour order over the same collected array.

    ``hour_col`` must be a dense integer hour index (rollup grain);
    window semantics are ROWS-based, so series gaps shrink the physical
    window rather than padding it — feed dense series.

    Output per (key, hour-of-season): ``*key_cols, hos, n_obs,
    seasonal, mean_abs_resid``.
    """
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(hour_col)
        .rowsBetween(-half_window, half_window)
    )
    full = 2 * half_window + 1
    with_trend = hourly.select(
        *key_cols,
        F.col(hour_col).alias("h"),
        F.col(value_col).alias("y"),
        F.when(
            F.count(F.lit(1)).over(w) == full,
            F.sum(value_col).over(w).cast("double") / F.lit(float(full)),
        ).alias("trend"),
    ).filter(F.col("trend").isNotNull())
    dtr = with_trend.select(
        *key_cols,
        "h",
        (F.col("h") % season).alias("hos"),
        (F.col("y").cast("double") - F.col("trend")).alias("d"),
    )
    agg = dtr.groupBy(*key_cols, "hos").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.array_sort(F.collect_list(F.struct("h", "d"))).alias("xs"),
    )
    seasonal = F.aggregate(
        "xs", F.lit(0.0), lambda acc, x: acc + x["d"]
    ) / F.col("n_obs").cast("double")
    # the full-precision seasonal gets a PRIVATE name: the output select
    # below aliases a rounded column "seasonal", and Spark's implicit
    # lateral-column-alias resolution would otherwise bind the
    # mean_abs fold's F.col("seasonal") to that ROUNDED alias — the
    # oracle folds |d − seasonal| at full precision (sf0.1 gate finding:
    # the rounded-seasonal fold drifts 1e-7 and flips round boundaries)
    with_seasonal = agg.select(
        *key_cols, "hos", "n_obs", "xs", seasonal.alias("__sea_full")
    )
    mean_abs = F.aggregate(
        "xs",
        F.lit(0.0),
        lambda acc, x: acc + F.abs(x["d"] - F.col("__sea_full")),
    ) / F.col("n_obs").cast("double")
    # duck_round: the frozen oracle rounds these doubles through DuckDB's
    # lossy ×10⁶ pipeline (sf0.1 gate finding: 3/120 seasonal rows)
    return with_seasonal.select(
        *key_cols,
        "hos",
        "n_obs",
        duck_round(F.col("__sea_full"), 6).alias("seasonal"),
        duck_round(mean_abs, 6).alias("mean_abs_resid"),
    )


def acf_profile(
    series: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    max_lag: int = 6,
) -> DataFrame:
    """Sample autocorrelation function of a bounded per-key series at
    lags 1..max_lag — the periodicity probe a telemetry pipeline runs
    on its rollup series before picking a seasonal window (compose
    with :func:`stl_decompose`, which ASSUMES the season; this
    measures it).

        acf_k = Σ_t (y_t − ȳ)(y_{t+k} − ȳ) / Σ_t (y_t − ȳ)²

    Float discipline: values are exact integers (rollup cents), ȳ is
    ONE correctly-rounded division, every (y−ȳ) is one IEEE subtract,
    and both the lag-k numerator and the denominator are LEFT folds in
    series order over the collected array — bit-replayable in the
    DuckDB oracle with scalar ``list_reduce`` accumulators.

    Plan shape: ONE hash aggregate collects each bounded series (use on
    rollup grain, never raw events), then the lag axis is a row-local
    array explode — no second shuffle, no self-join of the series.

    Output: ``*key_cols, lag, n_pairs, acf`` (round 6), lags with
    n_pairs ≥ 2 only.

    Reference analog: cernan's windowed buckets (src/buckets.rs:118-170)
    fix the flush interval statically; this derives the evidence for it.
    """
    ordered = F.sort_array(
        F.collect_list(
            F.struct(
                F.col(order_col).alias("__o"),
                F.col(value_col).cast("double").alias("__v"),
            )
        )
    )
    per_key = series.groupBy(*key_cols).agg(
        F.transform(ordered, lambda t: t["__v"]).alias("ys"),
        F.count(F.lit(1)).alias("n"),
        F.sum(value_col).alias("s"),
    )
    m = F.col("s").cast("double") / F.col("n").cast("double")
    dem = per_key.select(
        *key_cols,
        "n",
        F.transform("ys", lambda v: v - m).alias("zs"),
    )
    den = F.aggregate(
        "zs", F.lit(0.0), lambda acc, z: acc + z * z
    )
    with_den = dem.select(*key_cols, "n", "zs", den.alias("den"))
    lagged = with_den.select(
        *key_cols,
        "n",
        "zs",
        "den",
        F.explode(F.array(*[F.lit(k) for k in range(1, max_lag + 1)])).alias(
            "lag"
        ),
    ).filter((F.col("n") - F.col("lag")) >= F.lit(2))
    pair_terms = F.zip_with(
        F.slice(F.col("zs"), F.lit(1), (F.col("n") - F.col("lag")).cast("int")),
        F.slice(
            F.col("zs"),
            (F.col("lag") + F.lit(1)).cast("int"),
            (F.col("n") - F.col("lag")).cast("int"),
        ),
        lambda a, b: a * b,
    )
    num = F.aggregate(pair_terms, F.lit(0.0), lambda acc, x: acc + x)
    return lagged.select(
        *key_cols,
        "lag",
        (F.col("n") - F.col("lag")).alias("n_pairs"),
        F.round(num / F.col("den"), 6).alias("acf"),
    ).orderBy(*key_cols, "lag")


def hurst_rs(
    series: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    window_sizes: tuple[int, ...] = (16, 32, 64, 128),
) -> DataFrame:
    """Hurst exponent by rescaled-range (R/S) analysis per key — the
    long-memory probe (H > ½ trending / persistent, H < ½
    mean-reverting) that says whether a metric's bursts cluster, where
    :func:`acf_profile` only sees fixed short lags. Classic Mandelbrot–
    Wallis recipe: split the series into complete blocks of each window
    size w, per block compute R = range of the cumulative mean
    deviations and S = population std, average R/S per size, then H is
    the slope of ln(R/S) on ln(w).

    Float discipline: the collected values are exact integers (rollup
    cents); block mean is one division; every cumulative deviation is a
    LEFT fold over a PREFIX SLICE of the block (O(w²) adds per block —
    bounded by max(window_sizes)², the deliberate price for a fold
    order the DuckDB replay reproduces exactly); R from order-
    insensitive array max/min; S one correctly-rounded sqrt;
    the ln–ln OLS folds over the size-sorted means (the heaps_law
    fit shape). Zero-variance blocks are excluded from the size mean.

    Plan shape: ONE hash aggregate collects each bounded series; the
    size × block axes are row-local array explodes — no shuffle ever
    touches a per-observation row again. Use on rollup series.

    Output per (key, w): ``*key_cols, w, n_blocks, mean_rs, hurst``
    (round 6; hurst repeated across the key's rows, NULL when fewer
    than two sizes survive).
    """
    ordered = F.sort_array(
        F.collect_list(
            F.struct(
                F.col(order_col).alias("__o"),
                F.col(value_col).cast("double").alias("__v"),
            )
        )
    )
    per_key = series.groupBy(*key_cols).agg(
        F.transform(ordered, lambda t: t["__v"]).alias("ys"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    sized = per_key.select(
        *key_cols,
        "ys",
        "n",
        F.explode(
            F.array(*[F.lit(int(w)) for w in window_sizes])
        ).alias("w"),
    ).filter(F.col("n") >= F.col("w"))
    blocks = sized.select(
        *key_cols,
        "w",
        F.explode(
            F.sequence(F.lit(1), F.floor(F.col("n") / F.col("w")).cast("int"))
        ).alias("j"),
        F.slice(
            "ys",
            ((F.col("j") - 1) * F.col("w") + 1).cast("int"),
            F.col("w").cast("int"),
        ).alias("blk"),
    )
    m = F.aggregate("blk", F.lit(0.0), lambda acc, x: acc + x) / F.col(
        "w"
    ).cast("double")
    with_m = blocks.select(*key_cols, "w", "j", "blk", m.alias("m"))
    zs = F.transform(
        F.sequence(F.lit(1), F.col("w").cast("int")),
        lambda i: F.aggregate(
            F.slice("blk", F.lit(1), i), F.lit(0.0), lambda acc, x: acc + x
        )
        - i.cast("double") * F.col("m"),
    )
    s = F.sqrt(
        F.aggregate(
            "blk",
            F.lit(0.0),
            lambda acc, x: acc + (x - F.col("m")) * (x - F.col("m")),
        )
        / F.col("w").cast("double")
    )
    rs_rows = with_m.select(
        *key_cols,
        "w",
        "j",
        (F.array_max(zs) - F.array_min(zs)).alias("r"),
        s.alias("s"),
    ).filter(F.col("s") > 0.0)
    per_size = rs_rows.groupBy(*key_cols, "w").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.aggregate(
            F.sort_array(
                F.collect_list(F.struct("j", (F.col("r") / F.col("s")).alias("rs")))
            ),
            F.lit(0.0),
            lambda acc, t: acc + t["rs"],
        ).alias("rs_sum"),
    ).select(
        *key_cols,
        "w",
        "n_blocks",
        (F.col("rs_sum") / F.col("n_blocks").cast("double")).alias("mean_rs"),
    )
    pts = per_size.filter(F.col("mean_rs") > 0.0)
    fit = pts.groupBy(*key_cols).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    "w",
                    F.log(F.col("w").cast("double")).alias("x"),
                    F.log("mean_rs").alias("y"),
                )
            )
        ).alias("a")
    )
    kk = F.size("a").cast("double")
    sx = F.aggregate("a", F.lit(0.0), lambda acc, t: acc + t["x"])
    sy = F.aggregate("a", F.lit(0.0), lambda acc, t: acc + t["y"])
    sxy = F.aggregate("a", F.lit(0.0), lambda acc, t: acc + t["x"] * t["y"])
    sxx = F.aggregate("a", F.lit(0.0), lambda acc, t: acc + t["x"] * t["x"])
    hurst = F.when(
        F.size("a") >= 2,
        (kk * sxy - sx * sy) / (kk * sxx - sx * sx),
    )
    fitted = fit.select(*key_cols, hurst.alias("hurst"))
    return (
        per_size.join(fitted, key_cols, "left")
        .select(
            *key_cols,
            "w",
            "n_blocks",
            F.round("mean_rs", 6).alias("mean_rs"),
            F.round("hurst", 6).alias("hurst"),
        )
        .orderBy(*key_cols, "w")
    )


def lindley_wait(
    jobs: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    arrival_col: str,
    service_col: str,
) -> DataFrame:
    """Lindley-recursion queueing replay per key: treat the ordered
    event stream as a single-server FIFO queue (arrival epochs +
    deterministic service demands, both exact integers) and fold the
    waiting-time recursion

        W₁ = 0,   W_n = max(0, W_{n−1} + S_{n−1} − A_n)

    (A_n the n-th interarrival gap) — the capacity-planning answer "if
    one worker served this stream, how long would jobs wait" read
    straight off routed telemetry, with NO floating point anywhere:
    every state and every output except mean_wait is an exact BIGINT,
    so the DuckDB replay (a recursive CTE over the rank spine — the
    holt discipline, chosen over a struct-accumulator ``list_reduce``
    which DuckDB 1.0 mis-evaluates) is exact by construction.

    Plan shape: one lag window for gaps, ONE hash aggregate collecting
    each bounded (rollup-grain) stream, a single integer fold.

    Output per key: ``*key_cols, n_jobs, sum_wait, max_wait, n_waited,
    final_wait, mean_wait`` (round 6 on the one division).
    """
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    gapped = jobs.select(
        *key_cols,
        *order_cols,
        F.coalesce(
            F.col(arrival_col).cast("long")
            - F.lag(F.col(arrival_col).cast("long")).over(w),
            F.lit(0),
        ).alias("a"),
        F.col(service_col).cast("long").alias("s"),
    )
    ordered = F.sort_array(
        F.collect_list(
            F.struct(
                *[F.col(c) for c in order_cols],
                F.col("a").alias("a"),
                F.col("s").alias("s"),
            )
        )
    )
    init = F.struct(
        F.lit(0).cast("long").alias("w"),
        F.lit(0).cast("long").alias("sp"),
        F.lit(0).cast("long").alias("sw"),
        F.lit(0).cast("long").alias("mw"),
        F.lit(0).cast("long").alias("np"),
    )

    def step(acc, e):
        w_new = F.greatest(
            F.lit(0).cast("long"), acc["w"] + acc["sp"] - e["a"]
        )
        return F.struct(
            w_new.alias("w"),
            e["s"].alias("sp"),
            (acc["sw"] + w_new).alias("sw"),
            F.greatest(acc["mw"], w_new).alias("mw"),
            (acc["np"] + (w_new > 0).cast("long")).alias("np"),
        )

    folded = F.aggregate(ordered, init, step)
    return (
        jobs.select(*key_cols)
        .groupBy(*key_cols)
        .agg(F.count(F.lit(1)).cast("long").alias("n_jobs"))
        .join(
            gapped.groupBy(*key_cols).agg(folded.alias("st")),
            key_cols,
        )
        .select(
            *key_cols,
            "n_jobs",
            F.col("st.sw").alias("sum_wait"),
            F.col("st.mw").alias("max_wait"),
            F.col("st.np").alias("n_waited"),
            F.col("st.w").alias("final_wait"),
            F.round(
                F.col("st.sw").cast("double") / F.col("n_jobs").cast("double"),
                6,
            ).alias("mean_wait"),
        )
        .orderBy(*key_cols)
    )


def haar_energy(
    series: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    levels: int = 5,
) -> DataFrame:
    """Haar wavelet energy decomposition of a bounded per-key series —
    multiresolution variance: at each level, adjacent pairs split into
    averages (carried down) and differences (whose squared sum is that
    level's energy), so level 1 captures hour-to-hour jitter and level
    5 captures 32-hour swings. The scale-localized companion of
    :func:`acf_profile` (which asks "is lag k correlated", not "where
    does the variance LIVE").

    Float discipline: inputs are exact integers; every Haar coefficient
    is (a ± b)·0.5 — an IEEE add/subtract and an EXACT halving — and
    each level's energy is a LEFT fold of d² in coefficient order. Odd
    tails are dropped per level (the dyadic convention).

    Plan shape: ONE hash aggregate collects the series; the level
    cascade is a chain of row-local array transforms — no shuffle,
    no self-join. Use on rollup series.

    Output per (key, level): ``*key_cols, level, n_coeffs, energy``
    (round 6).
    """
    ordered = F.sort_array(
        F.collect_list(
            F.struct(
                F.col(order_col).alias("__o"),
                F.col(value_col).cast("double").alias("__v"),
            )
        )
    )
    per_key = series.groupBy(*key_cols).agg(
        F.transform(ordered, lambda t: t["__v"]).alias("a0")
    )
    frame = per_key
    cur = "a0"
    for lv in range(1, levels + 1):
        half = F.floor(F.size(cur) / 2).cast("int")

        def _pairs(sign: float, src: str, h):
            return F.transform(
                F.sequence(F.lit(1), h),
                lambda i: (
                    F.element_at(src, (2 * i - 1).cast("int"))
                    + F.lit(sign)
                    * F.element_at(src, (2 * i).cast("int"))
                )
                * F.lit(0.5),
            )

        empty = F.array().cast("array<double>")
        frame = frame.select(
            *key_cols,
            *[f"d{j}" for j in range(1, lv)],
            F.when(half >= 1, _pairs(1.0, cur, half))
            .otherwise(empty)
            .alias(f"a{lv}"),
            F.when(half >= 1, _pairs(-1.0, cur, half))
            .otherwise(empty)
            .alias(f"d{lv}"),
        )
        # Materialize each level: CollapseProject would otherwise
        # INLINE level l's array expression into every element_at of
        # level l+1 (two references per coefficient), so the collapsed
        # expression tree grows ~4^levels and the analyzer/codegen
        # never finishes. The per-level frame is rollup-sized, so the
        # eager cut is cheap — same discipline as the iterative graph
        # operators' per-round localCheckpoint.
        frame = frame.localCheckpoint(eager=True)
        cur = f"a{lv}"
    rows = []
    for lv in range(1, levels + 1):
        energy = F.aggregate(
            f"d{lv}", F.lit(0.0), lambda acc, d: acc + d * d
        )
        rows.append(
            frame.select(
                *key_cols,
                F.lit(lv).alias("level"),
                F.size(f"d{lv}").alias("n_coeffs"),
                # duck_round: energies reach 1.4e10 → ×10⁶ > 2^53, where
                # DuckDB's round is lossy (sf0.1 gate finding: 8/25 rows)
                duck_round(energy, 6).alias("energy"),
            ).filter(F.col("n_coeffs") > 0)
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy(*key_cols, "level")


#: 2·cos(2π/p) for the Goertzel recursion, pinned decimal literals
#: shared with the SQL oracle (no cross-engine cos()).
def duck_round(c: Column, digits: int) -> Column:
    """DuckDB's ``round(x, n)`` for DOUBLE, replayed exactly: DuckDB
    multiplies by 10^n IN DOUBLES (its own rounding) and then rounds
    half-away-from-zero, where Spark's ``F.round`` is an exact BigDecimal
    HALF_UP on the unscaled value — the two differ in the last digit
    whenever the lossy product crosses a .5 boundary the exact expansion
    does not (and always for |x·10^n| > 2^53). ``F.round(t, 0)`` is
    itself exact BigDecimal HALF_UP == C ``std::round`` for every double,
    so applying it to the lossy product reproduces DuckDB bit-for-bit.
    Use where a FROZEN oracle rounds a double; plain F.round stays right
    when the oracle side rounds exact integers/decimals."""
    p = F.lit(float(10**digits))
    return F.round(c * p, 0) / p


def _duck_decimal_double(mantissa: int, scale: int) -> float:
    """The double DuckDB actually computes for a bare decimal literal.

    DuckDB parses ``1.9318516525781366`` as DECIMAL(17,16) and converts
    to DOUBLE as round(int128→double) / 10^scale — TWO roundings, which
    for some mantissas lands one ULP off the correctly-rounded strtod
    parse (verified: c₂₄ differs, 0x1.ee8dd4748bf16p+0 vs ...15p+0).
    The oracle SQL is frozen with bare literals inside its recursive
    CTE, so the Spark fold must pin the SAME effective double or the
    Goertzel recursion drifts ~0.5 absolute over 681 steps
    (OPTIMIZATION_r06.md, round-6 gate finding)."""
    return float(mantissa) / float(10 ** scale)


GOERTZEL_COEFFS = {
    24: _duck_decimal_double(19318516525781366, 16),   # 2cos(2π/24)
    # the oracle's CASE unifies both branches to DECIMAL(17,16), so c₁₆₈
    # is converted at scale 16 (mantissa ×10), one ULP BELOW its strtod
    # parse — pinned to the unified-type conversion, not the literal's own
    168: _duck_decimal_double(19986014095767970, 16),  # 2cos(2π/168)
}


def goertzel_power(
    series: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    periods: tuple[int, ...] = (24, 168),
) -> DataFrame:
    """Spectral power at FIXED periods via the Goertzel recursion — "how
    much daily / weekly rhythm does this metric carry", the frequency-
    domain answer next to stl (which assumes the season) and acf (which
    scans short lags):

        s_n = x_n + c·s_{n−1} − s_{n−2},   c = 2cos(2π/p)  (pinned)
        P   = s_N² + s_{N−1}² − c·s_N·s_{N−1}

    plus rel_power = 2P/(n·SST): the fraction of total variance
    attributable to that single frequency bin (≈ amplitude²·n/4 / SST
    scaling folded into one pinned chain).

    Float discipline: the coefficients are shared decimal literals (no
    engine cos()); the recursion is a LEFT fold in series order over
    exact-integer inputs — replayed in DuckDB as a recursive CTE over
    the rank spine (the lindley/holt discipline); SST folds from the
    same collected list; divisions only at emit.

    Output per (key, period): ``*key_cols, period, n_points, power,
    rel_power`` (round 6; periods longer than the series are skipped).
    """
    unknown = [p for p in periods if p not in GOERTZEL_COEFFS]
    if unknown:
        raise ValueError(
            f"no pinned Goertzel coefficient for periods {unknown}; "
            f"add 2*cos(2*pi/p) to GOERTZEL_COEFFS (and the SQL oracle)"
        )
    ordered = F.sort_array(
        F.collect_list(
            F.struct(
                F.col(order_col).alias("__o"),
                F.col(value_col).cast("double").alias("__v"),
            )
        )
    )
    per_key = series.groupBy(*key_cols).agg(
        F.transform(ordered, lambda t: t["__v"]).alias("ys"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(value_col).alias("s"),
    )
    m = F.col("s").cast("double") / F.col("n").cast("double")
    sst = F.aggregate(
        F.transform("ys", lambda v: v - m),
        F.lit(0.0),
        lambda acc, z: acc + z * z,
    )
    base = per_key.select(*key_cols, "ys", "n", sst.alias("sst"))
    outs = []
    for p in periods:
        c = F.lit(GOERTZEL_COEFFS[p])
        init = F.struct(
            F.lit(0.0).alias("s1"), F.lit(0.0).alias("s2")
        )
        fold = F.aggregate(
            "ys",
            init,
            lambda acc, x: F.struct(
                (x + c * acc["s1"] - acc["s2"]).alias("s1"),
                acc["s1"].alias("s2"),
            ),
        )
        power = (
            fold["s1"] * fold["s1"]
            + fold["s2"] * fold["s2"]
            - c * fold["s1"] * fold["s2"]
        )
        # power is ~1e10+ at scale 6: DuckDB's round() multiplies by 10^6
        # IN DOUBLES (losing bits past 2^53) then std::round()s, where
        # Spark's round() is exact BigDecimal HALF_UP — the two differ in
        # the last printed digit for large magnitudes. The oracle is
        # frozen, so replicate DuckDB's pipeline: t = x·1e6 (double),
        # half-away-from-zero, /1e6. rel_power (~1e-3) keeps F.round.
        duck_round6 = duck_round(power, 6)
        outs.append(
            base.filter(F.col("n") >= F.lit(int(p)))
            .select(
                *key_cols,
                F.lit(int(p)).alias("period"),
                F.col("n").alias("n_points"),
                duck_round6.alias("power"),
                F.round(
                    F.when(
                        F.col("sst") > 0.0,
                        F.lit(2.0)
                        * power
                        / (F.col("n").cast("double") * F.col("sst")),
                    ),
                    6,
                ).alias("rel_power"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy(*key_cols, "period")


def yule_walker_ar2(
    series: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
) -> DataFrame:
    """AR(2) model fit per key by the Yule–Walker equations — the
    closed-form autoregression that turns :func:`acf_profile`'s
    descriptive lags into a FORECASTING model (and the stationarity
    check on its roots):

        φ₁ = r₁(1 − r₂)/(1 − r₁²)     φ₂ = (r₂ − r₁²)/(1 − r₁²)
        σ²ᵣₑₗ = 1 − φ₁r₁ − φ₂r₂       (innovation variance share)

    with r₁, r₂ the lag-1/2 autocorrelations. Stationarity holds iff
    φ₂ ± φ₁ < 1 and |φ₂| < 1 (emitted as a flag).

    Float discipline: r₁/r₂ come from the same pinned numerator/
    denominator folds as acf_profile (shared construction); φ and σ²
    are a fixed chain of IEEE ops on those two doubles; degenerate
    r₁² = 1 emits NULLs.

    Output per key: ``*key_cols, n, r1, r2, phi1, phi2, sigma2_rel,
    stationary`` (round 6).
    """
    ordered = F.sort_array(
        F.collect_list(
            F.struct(
                F.col(order_col).alias("__o"),
                F.col(value_col).cast("double").alias("__v"),
            )
        )
    )
    per_key = series.groupBy(*key_cols).agg(
        F.transform(ordered, lambda t: t["__v"]).alias("ys"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(value_col).alias("s"),
    ).filter(F.col("n") >= 3)
    m = F.col("s").cast("double") / F.col("n").cast("double")
    dem = per_key.select(
        *key_cols, "n", F.transform("ys", lambda v: v - m).alias("zs")
    )
    den = F.aggregate("zs", F.lit(0.0), lambda acc, z: acc + z * z)

    def acf_at(k: int):
        return (
            F.aggregate(
                F.zip_with(
                    F.slice(F.col("zs"), F.lit(1), (F.col("n") - k).cast("int")),
                    F.slice(
                        F.col("zs"),
                        F.lit(k + 1),
                        (F.col("n") - k).cast("int"),
                    ),
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.col("den")
        )

    rs = dem.select(*key_cols, "n", "zs", den.alias("den")).select(
        *key_cols, "n", acf_at(1).alias("r1"), acf_at(2).alias("r2")
    )
    d2 = F.lit(1.0) - F.col("r1") * F.col("r1")
    phi1 = F.col("r1") * (F.lit(1.0) - F.col("r2")) / d2
    phi2 = (F.col("r2") - F.col("r1") * F.col("r1")) / d2
    out = rs.select(
        *key_cols,
        "n",
        F.round("r1", 6).alias("r1"),
        F.round("r2", 6).alias("r2"),
        F.round(F.when(d2 != 0.0, phi1), 6).alias("phi1"),
        F.round(F.when(d2 != 0.0, phi2), 6).alias("phi2"),
        F.round(
            F.when(
                d2 != 0.0,
                F.lit(1.0)
                - phi1 * F.col("r1")
                - phi2 * F.col("r2"),
            ),
            6,
        ).alias("sigma2_rel"),
        F.when(
            d2 != 0.0,
            (phi2 + phi1 < 1.0)
            & (phi2 - phi1 < 1.0)
            & (F.abs(phi2) < 1.0),
        ).alias("stationary"),
    )
    return out.orderBy(*key_cols)


def lru_hit_rate(
    accesses: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    item_col: str,
    capacities: tuple[int, ...] = (4, 16),
) -> DataFrame:
    """LRU cache replay per key: "what hit rate WOULD a cache of k
    entries have gotten on this exact access stream" — the
    capacity-sizing twin of :func:`lindley_wait` (that sizes compute,
    this sizes memory), answered by deterministic simulation instead
    of a working-set heuristic.

    State per step is (MRU-ordered key list, hit count) — the fold is
    pure list surgery and integer adds, NO floating point until the
    final hit-rate division, so the DuckDB replay (recursive CTE over
    the rank spine carrying the list state — the let-trick vector
    style) is exact by construction.

    Plan shape: one lag-free collect of each bounded keyed stream, one
    fold per capacity (row-local). Use on rollup-grain or bounded
    streams; the state list is capped at the capacity.

    Output per (key, capacity): ``*key_cols, capacity, n_accesses,
    n_hits, hit_rate`` (round 6).
    """
    ordered = F.sort_array(
        F.collect_list(
            F.struct(
                *[F.col(c) for c in order_cols],
                F.col(item_col).cast("string").alias("__i"),
            )
        )
    )
    per_key = accesses.groupBy(*key_cols).agg(
        F.transform(ordered, lambda t: t["__i"]).alias("xs"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    outs = []
    for cap in capacities:
        init = F.struct(
            F.array().cast("array<string>").alias("c"),
            F.lit(0).cast("long").alias("h"),
        )

        def make_step(_cap):
            # arity matters: F.aggregate reads the python signature, so
            # the capacity binds via closure, not a defaulted 3rd param
            def step(acc, x):
                hit = F.array_contains(acc["c"], x)
                evicted = F.filter(acc["c"], lambda e: e != x)
                new_cache = F.slice(
                    F.concat(F.array(x), evicted), 1, _cap
                )
                return F.struct(
                    new_cache.alias("c"),
                    (acc["h"] + hit.cast("long")).alias("h"),
                )

            return step

        folded = F.aggregate("xs", init, make_step(cap))
        outs.append(
            per_key.select(
                *key_cols,
                F.lit(int(cap)).alias("capacity"),
                F.col("n").alias("n_accesses"),
                folded["h"].alias("n_hits"),
                F.round(
                    folded["h"].cast("double") / F.col("n").cast("double"),
                    6,
                ).alias("hit_rate"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy(*key_cols, "capacity")


def holt_winters(
    series: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    season: int = 24,
    horizons: tuple[int, ...] = (1, 2, 3),
) -> DataFrame:
    """Additive Holt–Winters (triple exponential smoothing) per key
    with α = β = γ = ½ and season length m — the level+trend+SEASONAL
    completion of :func:`holt_forecast` (which a daily-rhythmed metric
    defeats: its forecast chases yesterday's shape a half-day late).

    Init (first two seasons, standard):  l₀ = mean(y₁..m),
    b₀ = (mean(y_{m+1..2m}) − l₀)/m,  s_i = y_i − l₀.  Then for
    t > m:

        l_t = ((y_t − s_{t−m}) + (l + b))·½
        b_t = ((l_t − l) + b)·½
        s_t = ((y_t − l_t) + s_{t−m})·½

    and forecasts f_h = l + b·h + s_{(h)} off the final seasonal ring.

    Float discipline: inputs exact integers; the ½ gains make every
    update IEEE adds plus exact halvings in a pinned fold whose state
    carries the m-slot seasonal ring as an array — the DuckDB replay
    is a recursive CTE carrying the ring list (the lru_hit_rate
    discipline). Keys shorter than 2m are dropped.

    Output per key: ``*key_cols, n_points, level, trend`` plus one
    ``f_<h>`` per horizon (round 6; horizons must be ≤ season).
    """
    assert all(1 <= h <= season for h in horizons)
    m = season
    ordered = F.sort_array(
        F.collect_list(
            F.struct(
                F.col(order_col).alias("__o"),
                F.col(value_col).cast("double").alias("__v"),
            )
        )
    )
    per_key = series.groupBy(*key_cols).agg(
        F.transform(ordered, lambda t: t["__v"]).alias("ys"),
        F.count(F.lit(1)).cast("long").alias("n"),
    ).filter(F.col("n") >= 2 * m)
    mean1 = F.aggregate(
        F.slice("ys", 1, m), F.lit(0.0), lambda a, x: a + x
    ) / F.lit(float(m))
    mean2 = F.aggregate(
        F.slice("ys", m + 1, m), F.lit(0.0), lambda a, x: a + x
    ) / F.lit(float(m))
    seeded = per_key.select(
        *key_cols,
        "n",
        F.slice(
            "ys", m + 1, (F.col("n") - m).cast("int")
        ).alias("tail"),
        mean1.alias("l0"),
        ((mean2 - mean1) / F.lit(float(m))).alias("b0"),
        F.transform(
            F.slice("ys", 1, m), lambda v: v - mean1
        ).alias("s0"),
    )
    init = F.struct(
        F.col("l0").alias("l"), F.col("b0").alias("b"), F.col("s0").alias("s")
    )

    def step(acc, y):
        sold = F.element_at(acc["s"], 1)
        l_new = ((y - sold) + (acc["l"] + acc["b"])) * F.lit(0.5)
        b_new = ((l_new - acc["l"]) + acc["b"]) * F.lit(0.5)
        s_new = ((y - l_new) + sold) * F.lit(0.5)
        return F.struct(
            l_new.alias("l"),
            b_new.alias("b"),
            F.concat(
                F.slice(acc["s"], 2, m - 1), F.array(s_new)
            ).alias("s"),
        )

    folded = F.aggregate("tail", init, step)
    fin = seeded.select(*key_cols, "n", folded.alias("st"))
    return fin.select(
        *key_cols,
        F.col("n").alias("n_points"),
        F.round(F.col("st.l"), 6).alias("level"),
        F.round(F.col("st.b"), 6).alias("trend"),
        *[
            F.round(
                F.col("st.l")
                + F.col("st.b") * F.lit(float(h))
                + F.element_at(F.col("st.s"), h),
                6,
            ).alias(f"f_{h}")
            for h in horizons
        ],
    ).orderBy(*key_cols)
