"""The bucket aggregation engine: cernan's ``Buckets`` as one hash aggregate.

Reference semantics (/root/reference/src/buckets.rs:146-178 and
src/metric/telemetry.rs:94-137):

* group key = (name, tags, kind) + tumbling time bin ``floor(epoch /
  bin_width)`` (integer-division bins, telemetry.rs:816-828);
* merge laws within a group: Sum = addition, Set = last-write-wins (by the
  stable order key), Summarize = sketch union (→ percentile_approx) plus
  exact sum/count/mean, Histogram = bin-wise count addition over fixed
  bounds, which come from the statsd mask rules (``bounds_expr``, see
  :func:`bucket_aggregate_onepass`; an input ``bounds`` column is ignored);
* gauge persistence: a persisted series' value carries forward across bins
  and survives flushes (buckets.rs:100-116,163-175) — implemented as an
  ordered running fold, see :func:`gauge_carry_forward`.

Scale notes: all four merge laws run in one hash aggregate
(:func:`bucket_aggregate_onepass`: one scan, one shuffle, map-side partial
aggregation); the tag map is grouped by its sortable string ``tags_key``
so grouping never touches MapType. Skewed series keys are handled upstream
by salting (operators/skew.py) + AQE.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

#: Wavefront's default quantile list (reference src/sink/wavefront.rs:110-126)
DEFAULT_QUANTILES = [0.0, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99, 0.999, 1.0]
#: CKMS default error bound ε=0.001 → percentile_approx accuracy ≈ 1/ε
DEFAULT_ACCURACY = 1000
#: Histogram bounds of a series no mask rule names (reference default
#: bounds, src/metric/telemetry.rs:429-438)
DEFAULT_BOUNDS = [1.0, 10.0, 100.0, 1000.0]
#: most bounds one Histogram may carry: the aggregate keeps one count arm
#: per bound plus the +Inf bucket (``statsd.mask_bounds_expr`` enforces it)
MAX_HIST_BUCKETS = 8


def event_epoch_expr(df: DataFrame, ts_col: str = "ts") -> Column:
    """Event time in epoch seconds: a row's own ``event_epoch`` (graphite
    lines carry one) when the frame has that column, else its ``ts``."""
    ts = F.unix_timestamp(F.col(ts_col))
    return F.coalesce(F.col("event_epoch"), ts) if "event_epoch" in df.columns else ts


def with_bin(df: DataFrame, bin_width: int, ts_col: str = "ts") -> DataFrame:
    """Tumbling integer-division bin: floor(epoch_seconds / bin_width)."""
    epoch = event_epoch_expr(df, ts_col)
    return df.withColumn("bin", F.floor(epoch / F.lit(bin_width)).cast("long"))


def _group_cols(df: DataFrame) -> list[str]:
    cols = ["name", "bin"]
    if "tags_key" in df.columns:
        cols.insert(1, "tags_key")
    return cols


def bucket_aggregate_onepass(
    parsed: DataFrame,
    bin_width: int = 60,
    quantiles: list[float] | None = None,
    accuracy: int = DEFAULT_ACCURACY,
    order_col: str = "order_key",
    bounds_expr: Column | None = None,
) -> DataFrame:
    """All four merge laws in ONE hash aggregate (one scan, one shuffle).

    ``kind`` is part of the group key, so each group holds exactly one
    kind and the conditional aggregates never mix laws:

      SUM → sum(value)   SET → max_by(value, order)
      SUMMARIZE → percentile_approx sketch + exact sum/count/mean
      HISTOGRAM → per-bucket conditional counts (bucket index precomputed
      per row), re-zipped with the group's bounds post-agg; value ≤ bound
      → that bucket, above all bounds → the +Inf bucket

    Input needs (name, value, kind, persist, ts|event_epoch,
    order_key[, tags_key]). The Histogram bounds come only from
    ``bounds_expr``, the name→bounds CASE chain
    (``statsd.mask_bounds_expr``), falling back to :data:`DEFAULT_BOUNDS`
    where it is null; without it every Histogram carries the default
    bounds. An input ``bounds`` column is ignored.
    """
    qs = quantiles or DEFAULT_QUANTILES
    df = with_bin(parsed, bin_width)
    group = _group_cols(df) + ["kind"]

    # one expression buckets the rows and labels the buckets
    default = F.array(*[F.lit(b) for b in DEFAULT_BOUNDS])
    bounds = default if bounds_expr is None else F.coalesce(bounds_expr, default)
    is_hist = F.col("kind") == "HISTOGRAM"
    df = df.withColumn("_bounds", F.when(is_hist, bounds))
    df = df.withColumn(
        "_bidx",
        F.when(
            is_hist,
            F.size(F.filter(F.col("_bounds"), lambda b: b < F.col("value"))),
        ),
    )

    is_sum = F.col("kind") == "SUM"
    is_set = F.col("kind") == "SET"
    is_summ = F.col("kind") == "SUMMARIZE"
    q_arr = F.array(*[F.lit(q) for q in qs])

    aggs = [
        F.sum(F.when(is_sum, F.col("value"))).alias("_sum_value"),
        F.max_by(
            F.when(is_set, F.col("value")), F.when(is_set, F.col(order_col))
        ).alias("_set_value"),
        F.count("*").alias("n_points"),
        F.max(F.coalesce(F.col("persist"), F.lit(False))).alias("persist"),
        F.percentile_approx(
            F.when(is_summ, F.col("value")), q_arr, F.lit(accuracy)
        ).alias("_qv"),
        F.sum(F.when(is_summ, F.col("value"))).alias("_ssum"),
        F.avg(F.when(is_summ, F.col("value"))).alias("_smean"),
        *[
            F.sum(F.when(F.col("_bidx") == i, F.lit(1)).otherwise(F.lit(0))).alias(
                f"_hb{i}"
            )
            for i in range(MAX_HIST_BUCKETS + 1)
        ],
    ]
    g = df.groupBy(*group).agg(*aggs)

    # bounds are a pure function of (kind, name) — recompute post-agg from
    # the same expression instead of dragging an array through the
    # aggregation buffer (arrays in ObjectHashAggregate buffers are the
    # single most expensive component of a wide agg).
    hist_counts = F.array(*[F.col(f"_hb{i}") for i in range(MAX_HIST_BUCKETS + 1)])
    all_bounds = F.concat(bounds, F.array(F.lit(float("inf"))))
    hist = F.when(
        is_hist,
        F.transform(
            all_bounds,
            lambda b, i: F.struct(
                b.alias("bound"),
                F.element_at(hist_counts, i.cast("int") + 1)
                .cast("bigint")
                .alias("cnt"),
            ),
        ),
    )
    return g.select(
        *_group_cols(df),
        "kind",
        F.when(is_sum, F.col("_sum_value"))
        .when(is_set, F.col("_set_value"))
        .alias("agg_value"),
        "n_points",
        F.when(is_sum | is_set, F.col("persist")).otherwise(F.lit(False)).alias(
            "persist"
        ),
        F.when(is_summ, F.col("_qv")).alias("quantile_values"),
        F.when(is_summ, F.array(*[F.lit(q) for q in qs])).alias("quantile_probs"),
        F.when(is_summ, F.col("_ssum")).alias("samples_sum"),
        F.when(is_summ, F.col("_smean")).alias("mean_value"),
        hist.alias("hist"),
    )


# ---------------------------------------------------------------------------
# gauge persistence / carry-forward
# ---------------------------------------------------------------------------

def _fill_bins(per_bin: DataFrame, keys: list[str], stop: Column | None = None) -> DataFrame:
    """Every per-bin row plus one row per empty bin up to (exclusive) the
    series' next observed bin — or, after the series' last bin, up to
    (exclusive) ``stop`` when one is given. Each added row copies the columns of the
    observed row before it; ``_i`` is 0 on the observed row and counts the
    added ones. Join-free: one ``lead`` window plus one explode over the
    per-bin table."""
    nxt = F.lead("bin").over(W.partitionBy(*keys).orderBy("bin"))
    if stop is not None:
        nxt = F.coalesce(nxt, stop)
    gap_seq = F.when(
        nxt.isNotNull() & (nxt > F.col("bin") + 1),
        F.sequence(F.col("bin") + 1, nxt - 1),
    )
    return per_bin.withColumn(
        "_bins",
        F.concat(
            F.array(F.col("bin")),
            F.coalesce(gap_seq, F.array().cast("array<bigint>")),
        ),
    ).select(
        *[c for c in per_bin.columns if c != "bin"],
        F.posexplode("_bins").alias("_i", "bin"),
    )


def gauge_carry_forward(
    gauges: DataFrame,
    bin_width: int = 60,
    key_cols: list[str] | None = None,
    order_col: str = "order_key",
) -> DataFrame:
    """The statsd gauge fold per bin: Set replaces, signed-delta Sum adds, in
    stable order (reference test fitness_for_statsd_gauge,
    src/buckets.rs:240-309); bin value = running value at the end of the
    bin, and bins with no events inherit the previous bin's value
    (buckets.rs:163-175) with ``n_points`` = 0.

    Plan shape (audited): ONE scan of the raw points, ONE wide window
    keyed (series, bin) — the time bin doubles as the parallelism chunk, so
    a hot series spreads over its bins — feeding ONE hash aggregate on the
    same partitioning (no extra exchange); everything after runs on the
    tiny per-bin table (series × bins rows): an ordered per-series merge,
    then the :func:`_fill_bins` gap fill."""
    keys = key_cols or (["name", "tags_key"] if "tags_key" in gauges.columns else ["name"])
    is_set_c = F.col("kind") == "SET"
    df = with_bin(gauges, bin_width)

    # 1. intra-bin segmented fold (the only pass over raw points)
    wb = W.partitionBy(*keys, "bin").orderBy(order_col)
    seg = F.sum(is_set_c.cast("long")).over(wb.rowsBetween(W.unboundedPreceding, 0))
    df = df.withColumn("_seg", seg)
    wseg = W.partitionBy(*keys, "bin", "_seg").orderBy(order_col)
    base = F.first(F.when(is_set_c, F.col("value")), ignorenulls=True).over(
        wseg.rowsBetween(W.unboundedPreceding, 0)
    )
    deltas = F.sum(
        F.when(F.col("kind") == "SUM", F.col("value")).otherwise(F.lit(0.0))
    ).over(wseg.rowsBetween(W.unboundedPreceding, 0))
    df = df.withColumn("_intra", F.coalesce(base, F.lit(0.0)) + deltas)

    # 2. per-bin summary — same grouping keys as the window partitioning,
    # so the aggregate reuses the shuffle
    per_bin = df.groupBy(*keys, "bin").agg(
        F.max(is_set_c).alias("_has_set"),
        F.max_by("_intra", F.col(order_col)).alias("_final"),
        F.count("*").alias("n_points"),
    )

    # 3. per-series ordered merge over bins (tiny table): bin-end value =
    # absolute once a SET was seen, else carry + relative delta total
    w2 = W.partitionBy(*keys).orderBy("bin")
    seg2 = F.sum(F.col("_has_set").cast("long")).over(
        w2.rowsBetween(W.unboundedPreceding, 0)
    )
    per_bin = per_bin.withColumn("_seg2", seg2)
    w3 = W.partitionBy(*keys, "_seg2").orderBy("bin")
    base2 = F.first(F.when(F.col("_has_set"), F.col("_final")), ignorenulls=True).over(
        w3.rowsBetween(W.unboundedPreceding, 0)
    )
    rel = F.sum(
        F.when(~F.col("_has_set"), F.col("_final")).otherwise(F.lit(0.0))
    ).over(w3.rowsBetween(W.unboundedPreceding, 0))
    per_bin = per_bin.select(
        *keys,
        "bin",
        (F.coalesce(base2, F.lit(0.0)) + rel).alias("gauge_value"),
        "n_points",
    )
    return _fill_bins(per_bin, keys).select(
        *keys,
        "bin",
        "gauge_value",
        F.when(F.col("_i") == 0, F.col("n_points"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_points"),
    )


# ---------------------------------------------------------------------------
# sink-side aggregate transforms
# ---------------------------------------------------------------------------

def zero_pad(
    per_bin: DataFrame, key_cols: list[str], value_col: str = "agg_value"
) -> DataFrame:
    """Wavefront gap padding: emit 0-points for missing bins inside each
    series' observed span (reference src/sink/wavefront.rs:203-342 pads
    around gaps; we fill the whole gap — a superset with identical
    at-the-gap behavior). Returns the keys, ``bin`` and ``value_col``
    only: any other column describes the observed bin, not the padding."""
    per_bin = per_bin.select(*key_cols, "bin", value_col)
    return _fill_bins(per_bin, key_cols).select(
        *key_cols,
        "bin",
        F.when(F.col("_i") == 0, F.col(value_col))
        .otherwise(F.lit(0.0))
        .alias(value_col),
    )


def wavefront_persist_reinsert(
    agg: DataFrame, key_cols: list[str] | None = None
) -> DataFrame:
    """Wavefront persist re-insertion (wavefront.rs:423-426): a persisted
    telemetry re-enters the aggregation at every subsequent flush,
    re-timestamped — i.e. a persisted series keeps emitting its last value
    in every later window, forever, until overwritten. Batch form: extend
    each persist series with carried values through the GLOBAL max bin
    (the last flush), by :func:`_fill_bins` over the persisted rows with
    the max bin from a one-row broadcast. Synthesized rows carry
    ``reinserted=true``, n_points=0 and the ``kind`` of the row they carry
    (a series reported under one kind keeps it)."""
    keys = key_cols or (
        ["name", "tags_key"] if "tags_key" in agg.columns else ["name"]
    )
    agg = agg.withColumn("reinserted", F.lit(False))
    hi = agg.agg(F.max("bin").alias("_hi"))
    pers = agg.filter(F.col("persist")).select(
        *keys, "bin", "agg_value", "kind"
    ).crossJoin(F.broadcast(hi))
    synth = (
        _fill_bins(pers, keys, stop=F.col("_hi") + 1)
        .filter(F.col("_i") > 0)  # only the gap/tail bins
        .select(
            *keys,
            "bin",
            "agg_value",
            F.lit(0).cast("long").alias("n_points"),
            "kind",
            F.lit(True).alias("persist"),
            F.lit(True).alias("reinserted"),
        )
    )
    base_cols = [*keys, "bin", "agg_value", "n_points", "kind", "persist",
                 "reinserted"]
    return agg.select(base_cols).unionByName(synth.select(base_cols))


def prometheus_reject_kind_changes(
    per_bin: DataFrame, key_cols: list[str] | None = None
) -> DataFrame:
    """Prometheus kind-change rejection (prometheus.rs:279-310): the first-
    seen aggregation kind of a name wins; later reports under a different
    kind are rejected, never merged. Batch form: first kind by bin order
    per key; mismatching rows get ``kind_rejected=true`` (callers filter
    and count them — the reference increments a rejection counter and
    drops). The window runs on the tiny per-bin table, not raw points."""
    keys = key_cols or ["name"]
    w = W.partitionBy(*keys).orderBy("bin", "kind").rowsBetween(
        W.unboundedPreceding, 0
    )
    first_kind = F.first("kind").over(w)
    return per_bin.withColumn(
        "kind_rejected", F.col("kind") != first_kind
    )


def prometheus_accumulate(per_bin: DataFrame, key_cols: list[str]) -> DataFrame:
    """Prometheus perpetual accumulators: Sum AND Histogram accumulate
    forever (bin-wise count addition for histograms), Set keeps the latest
    value, timestamps are dropped (reference src/sink/prometheus.rs:209-332).

    Scalar kinds: one cumulative window over the per-bin table. Histograms:
    posexplode buckets → cumulative count per (key, bucket) over bins →
    reassemble the bucket array (``cum_hist``) — all on per-bin aggregates,
    never raw points."""
    w = W.partitionBy(*key_cols).orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
    out = (
        per_bin.withColumn(
            "cum_value",
            F.when(F.col("kind") == "SUM", F.sum("agg_value").over(w))
            .when(F.col("kind") == "SET", F.last("agg_value", ignorenulls=True).over(w))
            .otherwise(F.lit(None)),
        )
        .withColumn("cum_count", F.sum("n_points").over(w))
    )
    if "hist" not in per_bin.columns:
        return out
    h = per_bin.filter(F.col("kind") == "HISTOGRAM").select(
        *key_cols, "bin", F.posexplode("hist").alias("_i", "_b")
    )
    wh = W.partitionBy(*key_cols, "_i").orderBy("bin").rowsBetween(
        W.unboundedPreceding, 0
    )
    hc = h.withColumn("_cum_cnt", F.sum(F.col("_b.cnt")).over(wh))
    cum_hist = (
        hc.groupBy(*key_cols, "bin")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("_i", F.col("_b.bound").alias("bound"), "_cum_cnt")
                    )
                ),
                lambda x: F.struct(
                    x["bound"].alias("bound"), x["_cum_cnt"].alias("cnt")
                ),
            ).alias("cum_hist")
        )
    )
    return out.join(cum_hist, [*key_cols, "bin"], "left")


def prometheus_final_state(cum: DataFrame, key_cols: list[str]) -> DataFrame:
    """The accumulator's FINAL row per key — the state a scheduled
    incremental job persists between runs (the batch analog of the
    reference's long-lived in-process accumulators,
    src/sink/prometheus.rs:209-332: the process never restarts from zero;
    an incremental Spark job must not either)."""
    w = W.partitionBy(*key_cols).orderBy(F.col("bin").desc())
    cols = ["bin", "kind", "cum_value", "cum_count"] + (
        ["cum_hist"] if "cum_hist" in cum.columns else []
    )
    return (
        cum.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*key_cols, *cols)
    )


def prometheus_resume(
    prev_state: DataFrame, new_per_bin: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Resume perpetual accumulation from a persisted state: the previous
    run's final row per key seeds the cumulative windows as one synthetic
    bin (its recorded bin necessarily precedes every new bin), then the
    seed row is dropped — the output is bit-identical to one-pass
    accumulation over the full history (window sums continue left-to-right
    from the seed, preserving float addition order). Sum/Histogram add,
    Set carries the latest value forward; keys with no new bins emit
    nothing (their persisted state remains current)."""
    base = [*key_cols, "bin"] + (["kind"] if "kind" not in key_cols else [])
    seed_cols = [
        *base,
        F.col("cum_value").alias("agg_value"),
        F.col("cum_count").alias("n_points"),
    ]
    if "cum_hist" in prev_state.columns:
        seed_cols.append(F.col("cum_hist").alias("hist"))
    seed = prev_state.select(*seed_cols).withColumn("_seed", F.lit(True))
    body_cols = [*base, "agg_value", "n_points"] + (
        ["hist"] if "hist" in new_per_bin.columns else []
    )
    body = new_per_bin.select(*body_cols).withColumn("_seed", F.lit(False))
    acc = prometheus_accumulate(
        seed.unionByName(body, allowMissingColumns=True), key_cols
    )
    return acc.filter(~F.col("_seed")).drop("_seed")


def prometheus_windowed_summaries(
    parsed: DataFrame,
    capacity_seconds: int,
    now_epoch: int,
    quantiles: list[float] | None = None,
    accuracy: int = DEFAULT_ACCURACY,
) -> DataFrame:
    """Prometheus Summarize handling: samples live in a sliding window of
    ``capacity_in_seconds`` and are purged by age before quantile queries
    (reference src/sink/prometheus.rs:95-195, purge 127-148). Batch form:
    age filter (pushed into the scan) then one sketch aggregate per name."""
    qs = quantiles or DEFAULT_QUANTILES
    q_arr = F.array(*[F.lit(q) for q in qs])
    epoch = event_epoch_expr(parsed)
    live = parsed.filter(
        (F.col("kind") == "SUMMARIZE")
        & (epoch > F.lit(now_epoch - capacity_seconds))
        & (epoch <= F.lit(now_epoch))
    )
    return live.groupBy("name").agg(
        F.percentile_approx("value", q_arr, F.lit(accuracy)).alias("quantile_values"),
        F.sum("value").alias("samples_sum"),
        F.count("*").alias("n_points"),
    ).withColumn("quantile_probs", F.array(*[F.lit(q) for q in qs]))


def cumulative_histogram(hist_rows: DataFrame) -> DataFrame:
    """Prometheus exposition: running-sum ``le`` buckets ending at +Inf
    (reference src/sink/prometheus.rs:523-563). Pure array fold — no extra
    shuffle: cumulative count per bucket via a scan over the hist array."""
    return hist_rows.withColumn(
        "hist_cum",
        F.expr(
            """
            transform(hist, (x, i) ->
              struct(x.bound as le,
                     aggregate(slice(hist, 1, i + 1), 0L, (acc, y) -> acc + y.cnt) as cum_cnt))
            """
        ),
    )


def hopping_sums(
    parsed: DataFrame,
    duration: int = 600,
    slide: int = 200,
) -> DataFrame:
    """Hopping (sliding) windows: each event lands in ``duration/slide``
    overlapping windows — the telemetry smoothing cernan's fixed bins
    cannot express (a Prometheus-style `rate()` over a sliding range).
    `F.window(ts, duration, slide)` explodes each row into its covering
    windows BEFORE the hash aggregate, so map-side combine still applies;
    the inherent cost is slide-factor× shuffle volume, nothing more. The
    identical expression runs under readStream (streaming_bucket_aggregate
    is the slide == duration special case).

    Oracle form: for each offset lattice o ∈ [0, duration/slide) exactly
    one window with start ≡ o·slide (mod duration) covers an event, so
    the union over o replays Spark's window assignment arithmetically.
    """
    is_sum = F.col("kind") == "SUM"
    return (
        parsed.groupBy(
            F.window("ts", f"{duration} seconds", f"{slide} seconds"),
            "name",
            "kind",
        )
        .agg(
            F.sum(F.when(is_sum, F.col("value"))).alias("sum_value"),
            F.count(F.lit(1)).alias("n_points"),
        )
        .select(
            "name",
            "kind",
            F.unix_timestamp(F.col("window.start")).alias("ws"),
            "sum_value",
            "n_points",
        )
    )


def rollup_tiers(
    parsed: DataFrame,
    key_cols: list[str],
    epoch_col: str,
    cents_col: str,
    tiers: tuple[int, ...] = (60, 600, 3600),
) -> DataFrame:
    """Multi-resolution retention rollup (the RRD / prometheus
    recording-rule tier stack, generalizing cernan's single-width
    Buckets bins — /root/reference/src/buckets.rs int-division binning):
    the raw stream is scanned ONCE into the finest tier; every coarser
    tier re-aggregates the previous tier's (already tiny) table, never
    the raw data. At 100 TB the raw scan dominates and happens exactly
    once; tier N+1 costs O(rows of tier N).

    ``tiers`` must nest (each width divides the next) so coarse bins are
    exact unions of fine bins — min/max/count/sum then compose losslessly
    (merge laws, same as the Buckets Sum/Summarize kinds). Integer-cents
    sums keep every tier bit-exact for the oracle.
    """
    widths = list(tiers)
    for a, b in zip(widths, widths[1:]):
        if b % a != 0:
            raise ValueError(f"tier widths must nest: {a} !| {b}")
    fine = (
        parsed.groupBy(
            *key_cols,
            (F.floor(F.col(epoch_col) / widths[0]) * widths[0]).alias("ws"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents_col).alias("sum_cents"),
            F.min(cents_col).alias("min_cents"),
            F.max(cents_col).alias("max_cents"),
        )
    )
    if len(widths) > 1:
        # materialize the fine tier ONCE: the union's branches would
        # otherwise each re-derive it from raw (no CSE across union
        # branches in Catalyst), turning "scan raw once" into one full
        # scan per tier — the exact cost this operator exists to avoid
        fine = fine.localCheckpoint()
    out = fine.withColumn("tier_s", F.lit(widths[0]).cast("long"))
    prev = fine
    for width in widths[1:]:
        prev = (
            prev.groupBy(
                *key_cols,
                (F.floor(F.col("ws") / width) * width).alias("ws"),
            )
            .agg(
                F.sum("n").alias("n"),
                F.sum("sum_cents").alias("sum_cents"),
                F.min("min_cents").alias("min_cents"),
                F.max("max_cents").alias("max_cents"),
            )
        )
        out = out.unionByName(
            prev.withColumn("tier_s", F.lit(width).cast("long"))
        )
    return out.select(
        *key_cols, "tier_s", "ws", "n", "sum_cents", "min_cents", "max_cents"
    )


def log2_heatmap(
    parsed: DataFrame,
    key_cols: list[str],
    epoch_col: str,
    cents_col: str,
    window_s: int = 3600,
) -> DataFrame:
    """HDR-style latency heatmap grid: (series, time window) × log2 value
    bucket → count. The bucket is ``floor(log2(cents))`` computed EXACTLY
    as the bit length of the integer (length of the binary rendering −
    1) — never a float ``log`` call, so bucket edges can't smear across
    engines or platforms. One map-side-combined aggregate; the grid is
    the fixed-size artifact a heatmap UI reads regardless of input
    volume."""
    bucket = (F.length(F.bin(F.col(cents_col))) - 1).cast("long")
    ws = (F.floor(F.col(epoch_col) / window_s) * window_s).alias("ws")
    return (
        parsed.filter(F.col(cents_col) >= 1)
        .groupBy(*key_cols, ws, bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(cents_col).alias("min_cents"),
            F.max(cents_col).alias("max_cents"),
        )
    )


def telemetry_rollup(
    parsed: DataFrame,
    key_cols: list[str],
    cents_col: str,
) -> DataFrame:
    """Multi-grain telemetry summary in ONE aggregate: Catalyst's native
    ROLLUP computes (k1,k2), (k1) and () grains in a single shuffle
    (partial aggregation covers every grain map-side) — the hand-rolled
    alternative is one groupBy per grain = one scan per grain. ``gid`` is
    the standard grouping bitmask distinguishing a subtotal row from a
    data row whose key happens to be NULL."""
    return (
        parsed.rollup(*key_cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents_col).alias("sum_cents"),
            F.max(cents_col).alias("max_cents"),
            F.grouping_id().cast("long").alias("gid"),
        )
    )


#: (lower, upper) edges for the fixed histogram-quantile buckets — the
#: telemetry.rs [1,10,100,1000] mask bounds with the implicit +inf top
HQ_EDGES: list[tuple[float, float]] = [
    (0.0, 1.0), (1.0, 10.0), (10.0, 100.0), (100.0, 1000.0),
    (1000.0, float("inf")),
]


def histogram_quantile(
    parsed: DataFrame,
    key_cols: list[str],
    value_col: str,
    probs: tuple[float, ...] = (0.5, 0.99),
) -> DataFrame:
    """PromQL ``histogram_quantile``: the φ-quantile ESTIMATED from a
    fixed-bound cumulative histogram by linear interpolation inside the
    owning bucket (upper bound of the top bucket when φ lands there) —
    what every Prometheus burn-rate/p99 panel computes downstream of
    cernan's histogram sink (sink/prometheus.rs cumulative ``le``
    exposition). Buckets are the reference's [1,10,100,1000] mask bounds.

    ONE map-side-combined aggregate: per-bucket counts land as FIVE
    conditional sums (never a posexplode or window), and each quantile is
    a fixed CASE/interpolation expression over those exact integer counts
    — rank = φ·total and the interpolation are correctly-rounded IEEE ops
    shared verbatim with the SQL twin (:func:`histogram_quantile_sql`).
    """
    v = F.col(value_col)
    aggs = []
    for i, (lo, hi) in enumerate(HQ_EDGES):
        if i == 0:
            pred = v <= F.lit(hi)
        elif hi == float("inf"):
            pred = v > F.lit(lo)
        else:
            pred = (v > F.lit(lo)) & (v <= F.lit(hi))
        aggs.append(F.sum(pred.cast("long")).alias(f"c{i}"))
    g = parsed.groupBy(*key_cols).agg(*aggs)
    total = sum(F.col(f"c{i}") for i in range(len(HQ_EDGES)))
    g = g.withColumn("total", total.cast("long"))
    out_cols = [*key_cols, "total"] + [f"c{i}" for i in range(len(HQ_EDGES))]
    sel = [F.col(c) for c in out_cols]
    for p in probs:
        rank = F.lit(p) * F.col("total").cast("double")
        # cumulative counts, lowest bucket first — the first true when()
        # wins, which is exactly "lowest bucket whose cum ≥ rank"
        running = []
        acc = None
        for i in range(len(HQ_EDGES)):
            c = F.col(f"c{i}").cast("double")
            acc = c if acc is None else acc + c
            running.append(acc)
        chain = None
        for i, (lo, hi) in enumerate(HQ_EDGES):
            prev = running[i - 1] if i else F.lit(0.0)
            if hi == float("inf"):
                val = F.lit(lo)
            else:
                val = F.lit(lo) + (F.lit(hi) - F.lit(lo)) * (
                    rank - prev
                ) / F.col(f"c{i}").cast("double")
            cond = running[i] >= rank
            chain = (
                F.when(cond, val) if chain is None else chain.when(cond, val)
            )
        q = F.when(F.col("total") == 0, F.lit(None).cast("double")).otherwise(
            chain
        )
        sel.append(F.round(q, 6).alias(f"p{int(p * 100)}"))
    return g.select(*sel)


def histogram_quantile_sql(
    rel: str,
    key_exprs: list[str],
    value_expr: str,
    probs: tuple[float, ...] = (0.5, 0.99),
) -> str:
    """DuckDB twin of :func:`histogram_quantile` over relation ``rel`` —
    generated from the same HQ_EDGES so the bounds can't drift."""
    cnts = []
    for i, (lo, hi) in enumerate(HQ_EDGES):
        if i == 0:
            pred = f"{value_expr} <= {hi}"
        elif hi == float("inf"):
            pred = f"{value_expr} > {lo}"
        else:
            pred = f"{value_expr} > {lo} AND {value_expr} <= {hi}"
        cnts.append(
            f"CAST(sum(CASE WHEN {pred} THEN 1 ELSE 0 END) AS BIGINT) AS c{i}"
        )
    keys = ", ".join(key_exprs)
    n = len(HQ_EDGES)
    total = " + ".join(f"c{i}" for i in range(n))
    qcols = []
    for p in probs:
        rank = f"{p} * CAST(total AS DOUBLE)"
        arms = []
        for i, (lo, hi) in enumerate(HQ_EDGES):
            cum = " + ".join(f"CAST(c{k} AS DOUBLE)" for k in range(i + 1))
            prev = (
                " + ".join(f"CAST(c{k} AS DOUBLE)" for k in range(i))
                if i
                else "0.0"
            )
            if hi == float("inf"):
                val = f"{lo}"
            else:
                val = (
                    f"{lo} + ({hi} - {lo}) * (({rank}) - ({prev}))"
                    f" / CAST(c{i} AS DOUBLE)"
                )
            arms.append(f"WHEN ({cum}) >= ({rank}) THEN {val}")
        qcols.append(
            f"round(CASE WHEN total = 0 THEN NULL {' '.join(arms)} END, 6)"
            f" AS p{int(p * 100)}"
        )
    return f"""
        WITH h AS (
          SELECT {keys}, {', '.join(cnts)} FROM {rel} GROUP BY {keys}
        ), t AS (
          SELECT *, CAST({total} AS BIGINT) AS total FROM h
        )
        SELECT {keys}, total, {', '.join(f'c{i}' for i in range(n))},
               {', '.join(qcols)}
        FROM t
    """
