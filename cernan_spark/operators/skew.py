"""Hot-key skew handling: deterministic salts + two-phase window operators.

The transcripts table has conv_id hot keys (one conversation can hold ~20%
of all turns). A plain groupBy/window on conv_id puts that key in one task.
Remedies, in order:

* AQE skew-join splitting is on globally (session.py) — handles skewed
  JOIN sides at runtime;
* groupBy aggregates already do map-side partial aggregation (no salting
  needed for algebraic aggs);
* windows / applyInPandas over conv_id DO need salting — provided here as
  salt → partial → merge.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def with_salt(
    df: DataFrame,
    n_salts: int = 16,
    salt_col: str = "_salt",
    src_col: str | None = None,
) -> DataFrame:
    """Deterministic salt derived from the stable order key (never random —
    reruns must route rows identically for resumability). ``src_col`` names
    the stable column to hash; defaults to ``order_key`` when present."""
    if src_col is not None:
        src = F.col(src_col)
    elif "order_key" in df.columns:
        src = F.col("order_key")
    else:
        src = F.monotonically_increasing_id()
    return df.withColumn(salt_col, F.pmod(F.xxhash64(src), F.lit(n_salts)).cast("int"))


def salted_topk(
    df: DataFrame,
    group_cols: list[str],
    order_by: list[Column],
    k: int,
    n_salts: int = 32,
    rank_col: str = "rank",
    salt_src: str | None = None,
) -> DataFrame:
    """Top-K per group without serializing a hot group into one task:
    phase 1 ranks within (group, salt) and keeps each salt's local top-K —
    a hot group's sort spreads over ``n_salts`` tasks — phase 2 re-ranks
    the ≤ K·n_salts survivors per group. Any true top-K row is inside its
    salt's top-K, so the result is identical to the single-window form
    (``order_by`` must be a total order for a deterministic rank)."""
    from pyspark.sql import Window as W

    w1 = W.partitionBy(*group_cols, "_salt").orderBy(*order_by)
    cand = (
        with_salt(df, n_salts, src_col=salt_src)
        .withColumn("_lr", F.row_number().over(w1))
        .filter(F.col("_lr") <= k)
        .drop("_lr")
    )
    w2 = W.partitionBy(*group_cols).orderBy(*order_by)
    return (
        cand.withColumn(rank_col, F.row_number().over(w2))
        .filter(F.col(rank_col) <= k)
        .drop("_salt")
    )


def sessionize_chunked(
    events: DataFrame,
    user_col: str = "user_id",
    order_col: str = "event_id",
    ts_col: str = "ts",
    gap_s: int = 1800,
    chunks: int = 64,
) -> DataFrame:
    """Sessionization (a silence longer than ``gap_s`` starts a new
    session) WITHOUT one ordered window per user — a hot user must not
    serialize into a single task. Output: the input plus ``session_idx``
    (1-based per user, identical to the plain lag+cumsum window).

    Two-phase segmented scan, same shape as the chunked gauge fold
    (operators/aggregate.py) and token-budget sampler: ``order_col``'s
    value range is cut into ``chunks`` contiguous buckets (order-preserving
    by construction). Phase 1 scans within (user, bucket): in-bucket
    session starts via lag, plus per-bucket first/last timestamps and
    start counts — the per-bucket frame is tiny (users × chunks). Phase 2
    orders the per-bucket frame to decide whether each bucket's FIRST
    event continues the previous bucket's session (gap vs its last ts) and
    prefix-sums the session starts before each bucket; the offset
    broadcast-joins back. The one scalar driver read is the (min, max) of
    ``order_col`` to size the buckets — same class as the streaming
    sentinel derivation, not a data collect.
    """
    from pyspark.sql import Window as W

    lo, hi = events.agg(
        F.min(order_col).cast("long"), F.max(order_col).cast("long")
    ).first()
    if lo is None:
        return events.withColumn("session_idx", F.lit(None).cast("long"))
    width = max((hi - lo) // chunks + 1, 1)
    staged = events.withColumn(
        "_bkt", F.floor((F.col(order_col).cast("long") - F.lit(lo)) / F.lit(width))
    )
    wo = W.partitionBy(user_col, "_bkt").orderBy(order_col)
    ts_s = F.unix_timestamp(ts_col)
    gap = ts_s - F.lag(ts_s).over(wo)
    # in-bucket starts: the bucket's first event (gap null) is decided in
    # phase 2, so it carries flag 0 here
    flagged = staged.withColumn(
        "_new_rest",
        F.when(gap.isNull(), 0).when(gap > gap_s, 1).otherwise(0),
    ).withColumn(
        "_cum_rest",
        F.sum("_new_rest").over(wo.rowsBetween(W.unboundedPreceding, 0)),
    )
    per_bucket = flagged.groupBy(user_col, "_bkt").agg(
        F.min(F.struct(F.col(order_col).alias("o"), ts_s.alias("t"))).alias(
            "_first"
        ),
        F.max(F.struct(F.col(order_col).alias("o"), ts_s.alias("t"))).alias(
            "_last"
        ),
        F.sum("_new_rest").alias("_n_rest"),
    )
    wb = W.partitionBy(user_col).orderBy("_bkt")
    prev_last = F.lag(F.col("_last")["t"]).over(wb)
    first_new = F.when(
        prev_last.isNull() | ((F.col("_first")["t"] - prev_last) > gap_s),
        1,
    ).otherwise(0)
    offsets = (
        per_bucket.withColumn("_first_new", first_new)
        .withColumn(
            "_before",
            F.coalesce(
                F.sum(F.col("_n_rest") + F.col("_first_new")).over(
                    wb.rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select(user_col, "_bkt", "_first_new", "_before")
    )
    out = flagged.join(F.broadcast(offsets), [user_col, "_bkt"])
    return out.withColumn(
        "session_idx",
        (F.col("_before") + F.col("_first_new") + F.col("_cum_rest")).cast(
            "long"
        ),
    ).drop("_bkt", "_new_rest", "_cum_rest", "_first_new", "_before")


def skew_report(
    df: DataFrame, key_cols: list[str], target_rows_per_task: int
) -> DataFrame:
    """Join-skew diagnostic: per key, its row count, its share of the
    table in parts-per-million, and the salt factor a salted join would
    need to hold every (key, salt) slice under ``target_rows_per_task``
    (``ceil`` in integer arithmetic). This is the measurement step the
    salted operators above consume — at 100 TB you run it on a sample or
    yesterday's partition and feed ``salt_factor`` to :func:`with_salt`.

    One map-side-combined aggregate; the corpus total rides along as a
    1-row broadcast join.
    """
    per_key = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n"))
    total = per_key.agg(F.sum("n").alias("_tot"))
    t = int(target_rows_per_task)
    # integer DIV on both sides — a float divide + cast would round in
    # DuckDB but truncate in Spark
    return per_key.crossJoin(F.broadcast(total)).select(
        *key_cols,
        "n",
        F.expr("(n * 1000000) DIV _tot").alias("ppm"),
        F.expr(f"(n + {t - 1}) DIV {t}").alias("salt_factor"),
    )


def session_summaries(
    events: DataFrame,
    user_col: str = "user_id",
    order_col: str = "event_id",
    ts_s_col: str = "_ts_s",
    weight_col: str | None = None,
    start_carry_col: str | None = None,
    gap_s: int = 1800,
) -> DataFrame:
    """Per-session rollup over :func:`sessionize_chunked` (so hot users
    still never serialize): one row per (user, session) with
    ``start_s, end_s, last_order, n_events``. ``weight_col`` lets a row
    stand for N already-merged events and ``start_carry_col`` lets it
    carry an earlier true start — the two hooks the cross-run resume
    seeds use (:func:`sessionize_resume`)."""
    ev = events.withColumn("_ts", F.to_timestamp(F.col(ts_s_col)))
    s = sessionize_chunked(ev, user_col, order_col, "_ts", gap_s=gap_s)
    w = F.col(weight_col) if weight_col else F.lit(1)
    start = (
        F.least(F.min(start_carry_col), F.min(ts_s_col))
        if start_carry_col
        else F.min(ts_s_col)
    )
    return s.groupBy(user_col, "session_idx").agg(
        start.alias("start_s"),
        F.max(ts_s_col).alias("end_s"),
        F.max(order_col).alias("last_order"),
        F.sum(w).alias("n_events"),
    )


def sessionize_resume(
    events: DataFrame,
    split_epoch: int,
    user_col: str = "user_id",
    order_col: str = "event_id",
    ts_col: str = "ts",
    gap_s: int = 1800,
) -> DataFrame:
    """Cross-run sessionization: run 1 processes events before
    ``split_epoch``, persists its OPEN sessions (end within ``gap_s`` of
    the boundary — at most one per user, since a following session would
    have to start after the boundary), and run 2 resumes by seeding one
    pseudo-event per open session (ts = session end, weight = its event
    count, carrying the true start). The union of run-1 closed sessions
    and run-2 sessions is equal BY CONSTRUCTION to the one-pass result:
    the seed reproduces exactly the state the one-pass scan would hold at
    the boundary — the same resumed-≡-one-pass contract as
    exact_substr_resume and the prometheus accumulators
    (hopper's at-least-once handoff, /root/reference/src/config.rs:54-63).

    Output: ``user, start_s, end_s, n_events`` per final session.
    """
    ts_s = F.unix_timestamp(F.col(ts_col).cast("timestamp"))
    ev = events.select(
        F.col(user_col), F.col(order_col), ts_s.alias("_ts_s")
    )
    day1 = ev.filter(F.col("_ts_s") < split_epoch)
    day2 = ev.filter(F.col("_ts_s") >= split_epoch)

    s1 = session_summaries(day1, user_col, order_col, gap_s=gap_s)
    closed = s1.filter(F.col("end_s") < split_epoch - gap_s).select(
        user_col, "start_s", "end_s", "n_events"
    )
    open_ = s1.filter(F.col("end_s") >= split_epoch - gap_s)

    seed = open_.select(
        F.col(user_col),
        F.col("last_order").alias(order_col),
        F.col("end_s").alias("_ts_s"),
        F.col("n_events").alias("_w"),
        F.col("start_s").alias("_carry"),
    )
    d2 = day2.select(
        F.col(user_col),
        F.col(order_col),
        "_ts_s",
        F.lit(1).cast("long").alias("_w"),
        F.lit(None).cast("long").alias("_carry"),
    )
    merged = session_summaries(
        seed.unionByName(d2),
        user_col,
        order_col,
        weight_col="_w",
        start_carry_col="_carry",
        gap_s=gap_s,
    ).select(user_col, "start_s", "end_s", "n_events")
    return closed.unionByName(merged)


def gini_concentration(
    df: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Traffic-concentration profile over a key: the Gini coefficient of
    the per-key row-count distribution plus the head shares — the
    numeric answer to "how skewed is this key?" that decides between a
    plain shuffle, a salted two-phase operator, and AQE skew hints
    (compose with :func:`skew_report`, which profiles the top keys;
    this scores the whole distribution in one number).

    With per-key loads x_(1) ≤ … ≤ x_(n) (ties broken by key so the
    ranking is deterministic), Gini = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx)
    — every term exact BIGINT, ONE double division at emit. The rank
    pass is a single window over the n per-key counts (n = |keys|,
    already aggregated — not row-scale).

    Output one row: ``n_keys, total_rows, max_rows, top1_share,
    gini``.
    """
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("x"))
    w = Window.orderBy("x", *key_cols)
    ranked = counts.select(
        "x", F.row_number().over(w).alias("i")
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("x").alias("total_rows"),
        F.max("x").alias("max_rows"),
        F.sum(F.col("i") * F.col("x")).alias("ix"),
    )
    return agg.select(
        "n_keys",
        "total_rows",
        "max_rows",
        F.round(
            F.col("max_rows").cast("double")
            / F.col("total_rows").cast("double"),
            6,
        ).alias("top1_share"),
        F.round(
            (
                2 * F.col("ix") - (F.col("n_keys") + 1) * F.col("total_rows")
            ).cast("double")
            / (F.col("n_keys") * F.col("total_rows")).cast("double"),
            6,
        ).alias("gini"),
    )


def fair_share_alloc(
    demands: DataFrame,
    key_cols: list[str],
    demand_col: str,
    capacity: int,
) -> DataFrame:
    """Max–min fair allocation of an integer capacity across per-tenant
    demands (progressive filling / water-filling) — the admission-budget
    computation a multi-tenant ingest tier runs each interval: small
    demands are fully satisfied, the rest split the remainder equally.

    Closed form over the demand-sorted spine: with demands d_(1) ≤ … ≤
    d_(n), tenant i is SATURATED iff d_(i) · (n−i+1) ≤ C − Σ_{j<i} d_(j)
    (its full demand fits the equal split of what remains); unsaturated
    tenants share the post-saturation remainder equally. Saturation
    tests are INTEGER cross-multiplications; the only double is the
    final equal-share division. Ties rank by (demand, key) so the spine
    is deterministic.

    One sort-window over the n-tenant rollup (not row-scale) + one
    aggregate for the saturated prefix. Output per tenant:
    ``*key_cols, demand, allocated, saturated``.
    """
    w = Window.orderBy(demand_col, *key_cols)
    spine = demands.select(
        *key_cols, F.col(demand_col).alias("d")
    ).select(
        *key_cols,
        "d",
        F.row_number().over(Window.orderBy("d", *key_cols)).alias("i"),
        F.coalesce(
            F.sum("d").over(
                Window.orderBy("d", *key_cols).rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("cum_prev"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    sat = F.col("d") * (F.col("n") - F.col("i") + 1) <= (
        F.lit(capacity) - F.col("cum_prev")
    )
    marked = spine.select(*key_cols, "d", "n", sat.alias("sat"))
    totals = marked.agg(
        F.sum(F.when(F.col("sat"), F.col("d")).otherwise(0)).alias(
            "sat_sum"
        ),
        F.sum(F.when(F.col("sat"), 0).otherwise(1)).alias("n_unsat"),
    )
    share = F.when(
        F.col("n_unsat") > 0,
        (F.lit(capacity) - F.col("sat_sum")).cast("double")
        / F.col("n_unsat").cast("double"),
    ).otherwise(F.lit(0.0))
    return marked.crossJoin(F.broadcast(totals)).select(
        *key_cols,
        F.col("d").alias("demand"),
        F.round(
            F.when(F.col("sat"), F.col("d").cast("double")).otherwise(
                share
            ),
            6,
        ).alias("allocated"),
        F.col("sat").alias("saturated"),
    )


def theil_indices(
    df: DataFrame,
    group_cols: list[str],
    unit_col: str,
    value_col: str,
) -> DataFrame:
    """Theil inequality indices of an exact-integer quantity across
    units — the DECOMPOSABLE inequality family next to
    :func:`gini_concentration` (Gini compares pairs; Theil is additive
    across partitions, which is why capacity teams use it to ask "is
    the imbalance BETWEEN shards or WITHIN them"):

        T = (1/n) Σ (xᵢ/μ)·ln(xᵢ/μ)      (top-sensitive)
        L = (1/n) Σ ln(μ/xᵢ)             (bottom-sensitive; xᵢ > 0)

    Float discipline: per-unit totals and the grand sum are exact
    BIGINTs; each term is exact-integer ratios under one ln — using
    xᵢ/μ = n·xᵢ/S so the ratio argument is a division of exact
    integers (the repo's pinned-ln rule) — folded in unit order.
    Zero-valued units are excluded (ln(0)) and reported.

    Output per group: ``*group_cols, n_units, n_zero, theil_t,
    theil_l`` (round 6).
    """
    per_unit = df.groupBy(
        *group_cols, F.col(unit_col).alias("u")
    ).agg(F.sum(F.col(value_col).cast("long")).alias("x"))
    nz = per_unit.filter(F.col("x") > 0)
    folded = nz.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_units"),
        F.sum("x").alias("s"),
        F.sort_array(F.collect_list(F.struct("u", "x"))).alias("xs"),
    )
    zeros = per_unit.filter(F.col("x") <= 0).groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_zero")
    )
    n = F.col("n_units").cast("double")
    # x/mu = n*x/S : exact-integer ratio under the ln
    ratio = lambda t: (F.col("n_units") * t["x"]).cast("double") / F.col(
        "s"
    ).cast("double")
    theil_t = (
        F.aggregate(
            "xs",
            F.lit(0.0),
            lambda acc, t: acc + ratio(t) * F.log(ratio(t)),
        )
        / n
    )
    theil_l = (
        F.aggregate(
            "xs",
            F.lit(0.0),
            lambda acc, t: acc
            + F.log(
                F.col("s").cast("double")
                / (F.col("n_units") * t["x"]).cast("double")
            ),
        )
        / n
    )
    out = (
        folded.join(zeros, group_cols, "left")
        .select(
            *group_cols,
            "n_units",
            F.coalesce("n_zero", F.lit(0)).cast("long").alias("n_zero"),
            F.round(theil_t, 6).alias("theil_t"),
            F.round(theil_l, 6).alias("theil_l"),
        )
    )
    if group_cols:
        return out.orderBy(*group_cols)
    return out
