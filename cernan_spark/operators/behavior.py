"""User-behavior analytics over event streams: funnels and cohorts.

The reference ships raw telemetry to sinks and leaves behavioral rollups
to downstream warehouses (/root/reference/src/sink/firehose.rs is exactly
that handoff); a Spark-native engine can fold the two classic warehouse
queries into the pipeline itself:

* :func:`funnel_steps` — ordered-step conversion: which users performed
  step 1, then step 2 AFTER it, then step 3 after that. Each step is a
  filtered map-side-combined ``min(ts)`` aggregate joined to the previous
  step's frontier on the user key — no window over a user's whole event
  history, no collect, and each join input is one row per user (the
  aggregate side shrinks monotonically down the funnel).
* :func:`cohort_retention` — first-seen cohort × activity-week matrix.
  Two aggregates (first-seen per user; distinct user-weeks) and one join
  on the user key.

All arithmetic is integer epoch/week math; timestamps pass through
untouched — the oracle replays both exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

WEEK_S = 604800


def funnel_steps(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Strictly-ordered funnel: for each user, the earliest time of
    step k that happened AFTER their step k-1 time. Returns one row per
    user who completed step 1, with ``t_1 … t_n`` (NULL once the funnel
    stalls) and ``stage`` = number of steps reached.

    Plan shape at 100 TB: each step scans the events ONCE with the step
    predicate pushed into the scan, pre-aggregates min(ts) map-side, and
    equi-joins the (one-row-per-user) frontier — the frontier only
    shrinks, so later steps get cheaper, and no per-user event array is
    ever materialized.
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    # each step's frontier (one row per user) is materialized before the
    # next step references it: without this, step k's plan re-derives
    # every earlier frontier — and re-scans every earlier step's events —
    # once per reference, growing quadratically in the step count
    frontiers = [
        events.filter(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("t_1"))
        .localCheckpoint()
    ]
    for k, step in enumerate(steps[1:], start=2):
        prev = frontiers[-1]
        frontiers.append(
            events.filter(F.col(type_col) == step)
            .join(prev.select(user_col, f"t_{k - 1}"), user_col)
            .filter(F.col(ts_col) > F.col(f"t_{k - 1}"))
            .groupBy(user_col)
            .agg(F.min(ts_col).alias(f"t_{k}"))
            .localCheckpoint()
        )
    out = frontiers[0]
    for k, f in enumerate(frontiers[1:], start=2):
        out = out.join(f.select(user_col, f"t_{k}"), user_col, "left")
    stage = F.lit(1).cast("int")
    for k in range(2, len(steps) + 1):
        stage = F.when(F.col(f"t_{k}").isNotNull(), F.lit(k).cast("int")).otherwise(stage)
    return out.select(
        user_col, *[f"t_{k}" for k in range(1, len(steps) + 1)],
        stage.alias("stage"),
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Cohort-retention matrix: users are cohorted by the unix week of
    their first event; each (cohort_week, week_offset) cell counts the
    distinct cohort users active that many weeks later (offset 0 = the
    cohort week itself). Integer week arithmetic only."""
    wk = (F.unix_timestamp(ts_col) / WEEK_S).cast("long")
    first = (
        events.groupBy(user_col)
        .agg(F.min(wk).alias("cohort_week"))
    )
    active = events.select(user_col, wk.alias("week")).distinct()
    return (
        active.join(first, user_col)
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.countDistinct(user_col).alias("n_users"))
    )


def tool_cooccurrence(
    df: DataFrame,
    conv_col: str,
    tool_col: str,
) -> DataFrame:
    """Tool co-occurrence lift over agent traces: for each unordered tool
    pair, in how many conversations both appear, and the lift against
    independence ``n_ab·N / (n_a·n_b)`` (> 1: the tools travel together;
    < 1: they repel) — the association-graph view of tool_chains'
    sequential n-grams. All counts are conversation-distinct; the lift is
    one division of exact BIGINT products.

    Plan: distinct (conv, tool) pairs — one exchange — then a self-join
    on the conversation key (per-conv fan-out is bounded by the tool
    vocabulary, not the corpus); per-tool totals and the conversation
    count come back as two broadcast-sized frames.
    """
    ct = df.select(conv_col, tool_col).distinct()
    a, b = ct.alias("a"), ct.alias("b")
    pairs = a.join(
        b,
        (F.col(f"a.{conv_col}") == F.col(f"b.{conv_col}"))
        & (F.col(f"a.{tool_col}") < F.col(f"b.{tool_col}")),
    ).select(
        F.col(f"a.{tool_col}").alias("tool_a"),
        F.col(f"b.{tool_col}").alias("tool_b"),
    )
    n_ab = pairs.groupBy("tool_a", "tool_b").agg(
        F.count(F.lit(1)).alias("n_ab")
    )
    totals = ct.groupBy(tool_col).agg(F.count(F.lit(1)).alias("n_t"))
    n_convs = ct.select(conv_col).distinct().agg(
        F.count(F.lit(1)).alias("n_convs")
    )
    return (
        n_ab.join(
            F.broadcast(totals.select(F.col(tool_col).alias("tool_a"),
                                      F.col("n_t").alias("n_a"))),
            "tool_a",
        )
        .join(
            F.broadcast(totals.select(F.col(tool_col).alias("tool_b"),
                                      F.col("n_t").alias("n_b"))),
            "tool_b",
        )
        .crossJoin(F.broadcast(n_convs))
        .select(
            "tool_a",
            "tool_b",
            "n_ab",
            ((F.col("n_ab") * F.col("n_convs")) / (F.col("n_a") * F.col("n_b")))
            .alias("lift"),
        )
    )


def attribute_conversions(
    events: DataFrame,
    convert_type: str = "purchase",
    touch_type: str = "view",
    window_s: int = 3600,
    user_col: str = "user_id",
    order_col: str = "event_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Last-touch attribution: each conversion credits the user's most
    recent ``touch_type`` event STRICTLY BEFORE it, if that touch is
    within ``window_s`` seconds — the marketing-pipeline join that is a
    single ordered scan, never a self-join (a conversions×touches
    range join would multiply rows before filtering; the touch is
    carried forward with ``last(ignorenulls)``). ONE window exchange on
    the user key.

    Output per conversion: ``user, conv_order, conv_ts_s, touch_order
    (nullable), latency_s (nullable), attributed``.
    """
    ts_s = F.unix_timestamp(F.col(ts_col).cast("timestamp"))
    base = events.select(
        F.col(user_col),
        F.col(order_col),
        F.col(type_col),
        ts_s.alias("_ts_s"),
    )
    w = (
        Window.partitionBy(user_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col(type_col) == touch_type
    touch_ts = F.last(F.when(is_touch, F.col("_ts_s")), ignorenulls=True).over(w)
    touch_order = F.last(
        F.when(is_touch, F.col(order_col)), ignorenulls=True
    ).over(w)
    conv = base.withColumn("_tts", touch_ts).withColumn(
        "_tord", touch_order
    ).filter(F.col(type_col) == convert_type)
    in_win = F.col("_tts").isNotNull() & (
        F.col("_ts_s") - F.col("_tts") <= window_s
    )
    return conv.select(
        F.col(user_col),
        F.col(order_col).alias("conv_order"),
        F.col("_ts_s").alias("conv_ts_s"),
        F.when(in_win, F.col("_tord")).alias("touch_order"),
        F.when(in_win, F.col("_ts_s") - F.col("_tts")).alias("latency_s"),
        in_win.cast("int").alias("attributed"),
    )


# ---------------------------------------------------------------------------
# CEP-style sequence pattern matching over per-user event streams
# ---------------------------------------------------------------------------


def event_pattern_match(
    events: DataFrame,
    codes: dict[str, str],
    pattern: str,
    user_col: str = "user_id",
    type_col: str = "event_type",
    order_col: str = "event_id",
) -> DataFrame:
    """MATCH_RECOGNIZE-style complex-event detection: each user's event
    stream is encoded as a string (one char per event type, in stream
    order) and a regex runs over it — the Flink-CEP / Esper pattern
    class ("a burst of clicks ending in a purchase") expressed with the
    engine's native regex instead of a state machine. Non-overlapping
    leftmost-match semantics are identical in Java and RE2-family
    engines for the greedy ASCII patterns used here.

    Emits, per user: stream length, number of pattern occurrences and
    the first matched substring ('' when none) — exact strings/ints.

    Plan: ONE hash aggregate builds each user's code string via a
    pinned-order fold (sort_array over (order, code) structs, then
    concat) — no window, no second shuffle; the regex is a narrow map
    over user-sized rows. A pathological user's string is bounded by
    their own event count, never the corpus.
    """
    code_col = F.lit(None).cast("string")
    mapped = None
    for etype, ch in codes.items():
        mapped = (
            F.when(F.col(type_col) == etype, F.lit(ch))
            if mapped is None
            else mapped.when(F.col(type_col) == etype, F.lit(ch))
        )
    code_col = mapped.otherwise(F.lit("x"))
    per_user = (
        events.select(
            F.col(user_col).alias("user_id"),
            F.struct(F.col(order_col).alias("o"), code_col.alias("c")).alias(
                "oc"
            ),
        )
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list("oc")).alias("ocs"))
        .select(
            "user_id",
            F.aggregate(
                F.col("ocs"),
                F.lit(""),
                lambda acc, s: F.concat(acc, s["c"]),
            ).alias("seq"),
        )
    )
    return per_user.select(
        "user_id",
        F.length("seq").alias("seq_len"),
        F.regexp_count("seq", F.lit(pattern)).alias("n_matches"),
        F.regexp_extract("seq", pattern, 0).alias("first_match"),
    )


def event_pattern_oracle_sql(
    codes: dict[str, str], pattern: str, table: str = "events"
) -> str:
    """DuckDB twin of :func:`event_pattern_match` (same encode, same
    non-overlapping regex count)."""
    arms = " ".join(
        f"WHEN event_type = '{e}' THEN '{c}'" for e, c in codes.items()
    )
    return f"""
        WITH coded AS (
            SELECT user_id, event_id,
                   CASE {arms} ELSE 'x' END AS c
            FROM {table}
        ), seqs AS (
            SELECT user_id, string_agg(c, '' ORDER BY event_id) AS seq
            FROM coded GROUP BY 1
        )
        SELECT user_id, CAST(length(seq) AS INTEGER) AS seq_len,
               CAST(len(regexp_extract_all(seq, '{pattern}')) AS INTEGER)
                 AS n_matches,
               regexp_extract(seq, '{pattern}') AS first_match
        FROM seqs
    """


def user_behavior_profile(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    order_col: str = "event_id",
    ts_col: str = "ts",
    min_events: int = 20,
) -> DataFrame:
    """Bot-likeness profile per user: (1) behavioral entropy of the
    event-type mix — a scripted client hammers one action, a human
    wanders — and (2) the coefficient of variation of inter-arrival
    gaps — a cron fires metronomically, a human is bursty. Both from
    exact integer sums: entropy is ln(n) − (Σ c·ln c)/n folded in
    pinned type order; gap CV is sqrt(n·Σg² − (Σg)²)/Σg, one
    correctly-rounded sqrt over double-exact products. ``bot_like``
    flags the low-entropy AND low-CV corner.

    Plan: one (user, type) aggregate + one per-user gap window, both
    clustered on the user key — the user exchange happens once.
    """
    type_counts = events.groupBy(
        F.col(user_col).alias("u"), F.col(type_col).alias("t")
    ).agg(F.count(F.lit(1)).alias("c"))
    ent = type_counts.groupBy("u").agg(
        F.sum("c").alias("n_events"),
        F.count(F.lit(1)).alias("n_types"),
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("t", "c"))),
            F.lit(0.0),
            lambda a, s: a
            + s["c"].cast("double") * F.log(s["c"].cast("double")),
        ).alias("_clnc"),
    )
    n = F.col("n_events").cast("double")
    entropy = F.log(n) - F.col("_clnc") / n
    w = Window.partitionBy(user_col).orderBy(order_col)
    gaps = (
        events.select(
            F.col(user_col).alias("u"),
            (
                F.unix_timestamp(F.col(ts_col))
                - F.lag(F.unix_timestamp(F.col(ts_col))).over(w)
            ).alias("g"),
        )
        .filter(F.col("g").isNotNull())
        .groupBy("u")
        .agg(
            F.count(F.lit(1)).alias("ng"),
            F.sum("g").alias("sg"),
            F.sum(F.col("g") * F.col("g")).alias("sgg"),
        )
    )
    ngd = F.col("ng").cast("double")
    cv = F.sqrt(
        ngd * F.col("sgg").cast("double")
        - F.col("sg").cast("double") * F.col("sg").cast("double")
    ) / F.col("sg").cast("double")
    prof = ent.join(gaps, "u").filter(F.col("n_events") >= min_events)
    return prof.select(
        F.col("u").alias("user_id"),
        "n_events",
        "n_types",
        F.round(entropy, 6).alias("type_entropy"),
        F.round(cv, 6).alias("gap_cv"),
        ((entropy < 0.5) & (cv < 0.1)).alias("bot_like"),
    )


def apriori_itemsets(
    df: DataFrame,
    group_col: str,
    item_col: str,
    min_support: int,
    max_size: int = 3,
) -> DataFrame:
    """Frequent itemset mining (Apriori, sizes 1–3) over per-group item
    baskets — "which tool combinations co-occur in a conversation" is
    the association signal routing/caching decisions read. Classic
    level-wise pruning: size-k candidates are generated ONLY from
    frequent (k−1)-sets (semi-joins), so the combinatorial blowup a
    naive k-way self-join has on a wide alphabet never materializes;
    support counting is exact integer aggregation on deduplicated
    (group, item) pairs.

    Output: ``itemset`` (comma-joined, lexicographic), ``size``,
    ``support`` — one frame for all sizes.
    """
    b = df.select(
        F.col(group_col).alias("g"), F.col(item_col).alias("i")
    ).distinct()
    l1 = b.groupBy("i").agg(F.count(F.lit(1)).alias("support")).filter(
        F.col("support") >= min_support
    )
    out = l1.select(
        F.col("i").alias("itemset"), F.lit(1).alias("size"), "support"
    )
    if max_size < 2:
        return out
    b1 = b.join(l1.select("i"), "i")  # restrict baskets to frequent items
    pairs = (
        b1.select("g", F.col("i").alias("i1"))
        .join(b1.select("g", F.col("i").alias("i2")), "g")
        .filter(F.col("i1") < F.col("i2"))
    )
    l2 = pairs.groupBy("i1", "i2").agg(
        F.count(F.lit(1)).alias("support")
    ).filter(F.col("support") >= min_support)
    out = out.unionByName(
        l2.select(
            F.concat_ws(",", "i1", "i2").alias("itemset"),
            F.lit(2).alias("size"),
            "support",
        )
    )
    if max_size < 3:
        return out
    # candidate triples from L2 joins (i1<i2<i3), apriori-pruned so every
    # 2-subset is frequent, THEN support-counted against the baskets.
    cand = (
        l2.select("i1", "i2")
        .join(
            l2.select(F.col("i1"), F.col("i2").alias("i3")),
            "i1",
        )
        .filter(F.col("i2") < F.col("i3"))
        .join(
            l2.select(
                F.col("i1").alias("i2"), F.col("i2").alias("i3")
            ),
            ["i2", "i3"],
        )
    )
    triples = (
        b1.select("g", F.col("i").alias("i1"))
        .join(b1.select("g", F.col("i").alias("i2")), "g")
        .join(b1.select("g", F.col("i").alias("i3")), "g")
        .join(F.broadcast(cand), ["i1", "i2", "i3"])
    )
    l3 = triples.groupBy("i1", "i2", "i3").agg(
        F.count(F.lit(1)).alias("support")
    ).filter(F.col("support") >= min_support)
    return out.unionByName(
        l3.select(
            F.concat_ws(",", "i1", "i2", "i3").alias("itemset"),
            F.lit(3).alias("size"),
            "support",
        )
    )


def rfm_scores(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    amount_col: str,
    n_tiles: int = 5,
) -> DataFrame:
    """RFM (recency / frequency / monetary) quintile scoring per user —
    the classic behavioral segmentation a lifecycle pipeline derives
    from the event stream. Per user: last-activity epoch, event count,
    exact amount sum; each dimension then ranks into ``n_tiles`` buckets
    with DETERMINISTIC tie-breaks (metric, then user id), high scores =
    recent/frequent/valuable.

    ntile over the per-user rollup (n = |users|, not row-scale); all
    inputs exact integers. Output: ``user, recency_e, frequency,
    monetary, r, f, m, rfm`` (rfm = 100·r + 10·f + m).
    """
    per_user = events.groupBy(F.col(user_col).alias("user")).agg(
        F.max(F.unix_timestamp(F.col(ts_col))).alias("recency_e"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(amount_col).alias("monetary"),
    )
    r = F.ntile(n_tiles).over(Window.orderBy("recency_e", "user"))
    f = F.ntile(n_tiles).over(Window.orderBy("frequency", "user"))
    m = F.ntile(n_tiles).over(Window.orderBy("monetary", "user"))
    return per_user.select(
        "user",
        "recency_e",
        "frequency",
        "monetary",
        r.alias("r"),
        f.alias("f"),
        m.alias("m"),
    ).withColumn(
        "rfm", F.col("r") * 100 + F.col("f") * 10 + F.col("m")
    )


def item_cosine(
    df: DataFrame,
    user_col: str,
    item_col: str,
    min_common: int = 2,
) -> DataFrame:
    """Item–item co-visitation similarity from the binary user×item
    matrix — the memory-based collaborative-filtering kernel ("users who
    used X also used Y"): per ordered item pair the co-user count,
    cosine c/√(n_i·n_j) and Jaccard c/(n_i+n_j−c), emitted when at
    least ``min_common`` users share the pair.

    Exactness: counts are BIGINTs from deduplicated (user, item) pairs;
    cosine is one correctly-rounded sqrt + division, Jaccard one
    division. Scale shape: the self-join keys on user — a hot user
    fans out |items|² pairs, which is bounded by the ITEM alphabet, not
    the corpus; the pair aggregate map-side combines.

    Output: ``item_a, item_b, n_a, n_b, n_common, cosine, jaccard``.
    """
    b = df.select(
        F.col(user_col).alias("u"), F.col(item_col).alias("i")
    ).distinct()
    per_item = b.groupBy("i").agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        b.select("u", F.col("i").alias("item_a"))
        .join(b.select("u", F.col("i").alias("item_b")), "u")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    na = per_item.select(F.col("i").alias("item_a"), F.col("n").alias("n_a"))
    nb = per_item.select(F.col("i").alias("item_b"), F.col("n").alias("n_b"))
    j = pairs.join(na, "item_a").join(nb, "item_b")
    return j.select(
        "item_a",
        "item_b",
        "n_a",
        "n_b",
        "n_common",
        F.round(
            F.col("n_common").cast("double")
            / F.sqrt((F.col("n_a") * F.col("n_b")).cast("double")),
            6,
        ).alias("cosine"),
        F.round(
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast(
                "double"
            ),
            6,
        ).alias("jaccard"),
    )


def stickiness(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    window_days: int = 28,
) -> DataFrame:
    """DAU/MAU stickiness per day — the engagement ratio a product
    pipeline charts: distinct users active that day over distinct users
    active in the trailing ``window_days`` (inclusive). Exact distinct
    counts (no sketch): the (user, day) grid is deduplicated FIRST, so
    the trailing-window range join fans out at day grain (≤ window_days
    per grid row), never at event grain.

    Output per day: ``day, dau, mau, stickiness`` (one exact-integer
    division).
    """
    ud = events.select(
        F.col(user_col).alias("u"),
        F.to_date(F.col(ts_col)).alias("day"),
    ).distinct()
    days = ud.select("day").distinct().select(
        F.col("day").alias("spine")
    )
    dau = ud.groupBy(F.col("day").alias("spine")).agg(
        F.countDistinct("u").alias("dau")
    )
    mau = (
        ud.join(
            days,
            (F.col("day") <= F.col("spine"))
            & (
                F.col("day")
                >= F.date_sub(F.col("spine"), window_days - 1)
            ),
        )
        .groupBy("spine")
        .agg(F.countDistinct("u").alias("mau"))
    )
    return (
        dau.join(mau, "spine")
        .select(
            F.col("spine").alias("day"),
            "dau",
            "mau",
            F.round(
                F.col("dau").cast("double") / F.col("mau").cast("double"),
                6,
            ).alias("stickiness"),
        )
    )


def seq_patterns(
    events: DataFrame,
    group_col: str,
    order_col: str,
    item_col: str,
    min_support: int,
    include_triples: bool = True,
) -> DataFrame:
    """Gapped sequential-pattern mining (PrefixSpan semantics, lengths
    2–3) over per-group ordered item streams — the ORDER-aware sibling
    of :func:`apriori_itemsets` (sets say "these tools co-occur";
    sequences say "retrieval is FOLLOWED BY code-exec, eventually").
    Support = number of groups containing the subsequence with
    arbitrary gaps.

    The containment tests collapse to first/last/position algebra, so
    nothing enumerates index combinations:

    * a→b  holds in a group  iff  first(a) < last(b)
    * a→b→c  holds  iff  some position of b lies strictly between
      first(a) and last(c)

    Plan shape: ONE aggregate to the (group, item) grain keeping
    (first, last, sorted position list); candidate pairs/triples are
    joins at the group grain over the group's own item vocabulary
    (bounded by the alphabet, not the sequence length); supports are
    exact integer group-counts. Repeats (a→a) count via first < last
    of the same item.

    Output: ``len, pattern ('a>b' / 'a>b>c'), n_groups`` for patterns
    with n_groups ≥ min_support.
    """
    per = events.groupBy(
        F.col(group_col).alias("g"), F.col(item_col).alias("i")
    ).agg(
        F.min(order_col).alias("fpos"),
        F.max(order_col).alias("lpos"),
        F.sort_array(F.collect_list(order_col)).alias("ps"),
    )
    a = per.select("g", F.col("i").alias("ia"), F.col("fpos").alias("fa"))
    b = per.select("g", F.col("i").alias("ib"), F.col("lpos").alias("lb"))
    pairs = (
        a.join(b, "g")
        .filter(F.col("fa") < F.col("lb"))
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).cast("long").alias("n_groups"))
        .filter(F.col("n_groups") >= F.lit(min_support))
    )
    out2 = pairs.select(
        F.lit(2).alias("len"),
        F.concat_ws(">", "ia", "ib").alias("pattern"),
        "n_groups",
    )
    if not include_triples:
        return out2.orderBy("len", "pattern")
    mid = per.select("g", F.col("i").alias("im"), F.col("ps").alias("pm"))
    c = per.select("g", F.col("i").alias("ic"), F.col("lpos").alias("lc"))
    triples = (
        a.join(mid, "g")
        .join(c, "g")
        .filter(
            F.exists(
                "pm",
                lambda p: (p > F.col("fa")) & (p < F.col("lc")),
            )
        )
        .groupBy("ia", "im", "ic")
        .agg(F.count(F.lit(1)).cast("long").alias("n_groups"))
        .filter(F.col("n_groups") >= F.lit(min_support))
    )
    out3 = triples.select(
        F.lit(3).alias("len"),
        F.concat_ws(">", "ia", "im", "ic").alias("pattern"),
        "n_groups",
    )
    return out2.unionAll(out3).orderBy("len", "pattern")


def assoc_rules(
    df: DataFrame,
    group_col: str,
    item_col: str,
    min_support: int,
) -> DataFrame:
    """Association rules a → b from frequent item PAIRS over per-group
    baskets — the directed, strength-scored layer above
    :func:`apriori_itemsets` (which stops at "frequent"):

        confidence(a→b) = supp(ab) / supp(a)
        lift(a→b)       = supp(ab) · N / (supp(a) · supp(b))

    Both emitted per ordered rule (a→b AND b→a — confidence is
    asymmetric), plus the exact integer supports. Floats are single
    divisions of exact BIGINTs at emit (lift's numerator and
    denominator are exact products).

    Plan shape: dedup to (group, item), one item-grain support
    aggregate, one within-group self-join (i < j) for pair supports,
    the rule frame broadcast-joins the item supports.

    Output: ``antecedent, consequent, supp_pair, supp_a, supp_b,
    confidence, lift`` (round 6) for pairs with supp_pair ≥
    min_support.
    """
    b = df.select(
        F.col(group_col).alias("g"), F.col(item_col).alias("i")
    ).distinct()
    n_groups = b.agg(
        F.countDistinct("g").cast("long").alias("n")
    )
    supp = b.groupBy("i").agg(F.count(F.lit(1)).cast("long").alias("s"))
    l = b.select("g", F.col("i").alias("ia"))
    r = b.select("g", F.col("i").alias("ib"))
    pair = (
        l.join(r, "g")
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).cast("long").alias("sp"))
        .filter(F.col("sp") >= F.lit(min_support))
    )
    both = pair.unionAll(
        pair.select(
            F.col("ib").alias("ia"), F.col("ia").alias("ib"), "sp"
        )
    )
    rules = (
        both.join(
            F.broadcast(supp.select(F.col("i").alias("ia"), F.col("s").alias("sa"))),
            "ia",
        )
        .join(
            F.broadcast(supp.select(F.col("i").alias("ib"), F.col("s").alias("sb"))),
            "ib",
        )
        .crossJoin(F.broadcast(n_groups))
    )
    return rules.select(
        F.col("ia").alias("antecedent"),
        F.col("ib").alias("consequent"),
        F.col("sp").alias("supp_pair"),
        F.col("sa").alias("supp_a"),
        F.col("sb").alias("supp_b"),
        F.round(
            F.col("sp").cast("double") / F.col("sa").cast("double"), 6
        ).alias("confidence"),
        F.round(
            (F.col("sp") * F.col("n")).cast("double")
            / (F.col("sa") * F.col("sb")).cast("double"),
            6,
        ).alias("lift"),
    ).orderBy("antecedent", "consequent")
