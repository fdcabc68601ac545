"""Physical-plan shape guards: the 100 TB properties the operators were
designed around (broadcast small sides, single wide shuffle, pushdown into
the scan) must survive refactors. Each test asserts structural facts about
the EXECUTED plan, not timings — plan regressions are visible at any SF.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _final_plan(df) -> str:
    """Plan AFTER execution — under AQE the join strategy is only fixed
    once the adaptive plan finalizes."""
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


def _count(plan: str, pattern: str) -> int:
    return len(re.findall(pattern, plan))


def test_token_budget_plan_one_wide_shuffle_and_broadcast(spark):
    """Chunked sampler: the corpus shuffles ONCE (to the per-chunk window);
    the offsets table comes back as a broadcast, never a shuffle join."""
    from cernan_spark.operators.textstats import sample_to_token_budget

    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("lang_pred"),
        F.lit(10).alias("n_tokens"),
    )
    plan = _plan(sample_to_token_budget(docs, 500))
    assert _count(plan, r"BroadcastExchange") == 1
    assert _count(plan, r"BroadcastHashJoin") == 1
    assert _count(plan, r"SortMergeJoin") == 0
    # ≤3 hash exchanges: ONE carries the wide data (to the per-chunk
    # window); the other two move only the langs × chunks totals frame
    # (aggregate + its prefix-sum window)
    assert _count(plan, r"Exchange hashpartitioning") <= 3


def test_route_plan_broadcasts_rules(spark):
    """Fan-out routing joins the (tiny) rules table as a broadcast — a
    shuffled join here would reshuffle the full corpus per sink."""
    from cernan_spark.operators.route import route
    from cernan_spark.sources.dimensions import default_routes

    import __spark_entry__ as em

    p = em._parsed(spark, SF).withColumn(
        "match_kind_value", F.lit("telemetry")
    )
    plan = _final_plan(route(p, default_routes(spark)))
    # the mask match is a non-equi predicate → broadcast nested-loop over
    # the 5-row rules table; any shuffled join here is the regression
    assert _count(plan, r"BroadcastNestedLoopJoin|BroadcastHashJoin") >= 1
    assert _count(plan, r"SortMergeJoin|ShuffledHashJoin") == 0


def test_parse_scan_prunes_columns(spark):
    """The statsd parse must reach the parquet scan with a pruned schema —
    reading every column for a 3-column projection is the classic
    pushdown regression."""
    import __spark_entry__ as em

    p = em._parsed(spark, SF).select("name", "kind", "value")
    plan = _plan(p)
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    read_schema = scan.split("ReadSchema:")[-1]
    # the parse consumes event fields; the unused wide columns stay out.
    # (user_id is now always read: it is the spread_scan hash key that
    # distributes the single-row-group scan — r6. props is the wide
    # payload column a pushdown regression would drag in.)
    assert "props" not in read_schema


def test_statsd_parse_scans_each_line_once(spark):
    """The statsd slicer finds ':' once and '|' once per line, as the
    reference's single scan does (statsd.rs:553-573): a slice that
    re-derives a position copies the scan into the optimized plan."""
    from cernan_spark.functions.statsd import parse_statsd_lines

    df = spark.createDataFrame([("a:1|c",)], "line string")
    plan = parse_statsd_lines(df)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("instr(") == 1
    assert plan.count("locate(") == 1


def test_parse_stage_telemetry_is_one_arm(spark):
    """Telemetry reads each line once: no union re-scanning and
    re-exploding the transcripts for a second wire format, and the
    graphite regex extracts each of its three groups once (the name
    behind the Generate barrier, value and timestamp from its matches)."""
    from cernan_spark.plans.pipeline import parse_stage
    from cernan_spark.sources.transcripts import synthetic_transcripts

    t = synthetic_transcripts(spark, n_convs=2, turns_per_conv=5, seed=3)
    plan = parse_stage(t)["telemetry"]._jdf.queryExecution().optimizedPlan().toString()
    assert _count(plan, r"\bUnion\b") == 0, plan
    assert plan.count("split(") == 1, plan
    assert plan.count("instr(") == 1, plan
    assert plan.count("regexp_extract(") == 3, plan


def test_benchmark_decontam_broadcasts_eval_side(spark):
    """Decontamination probes the (tiny) benchmark shingle set as a
    broadcast: the corpus must never shuffle on the shingle."""
    from cernan_spark.operators.textstats import benchmark_ngram_overlap

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    plan = _plan(benchmark_ngram_overlap(docs, bench, n=8))
    assert _count(plan, r"BroadcastHashJoin") >= 1
    assert _count(plan, r"SortMergeJoin") == 0


def test_paragraph_dedup_no_window_over_hash(spark):
    """Paragraph ownership is a map-side-combined aggregate, NOT a window
    over the paragraph hash — a window would serialize a corpus-wide
    boilerplate paragraph into one task."""
    from cernan_spark.operators.dedup import paragraph_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    seeded = docs.select(
        "doc_id", F.concat("text", F.lit("\n\nfooter")).alias("text")
    )
    plan = _plan(paragraph_dedup(seeded))
    assert _count(plan, r"\bWindow \[") == 0
    assert _count(plan, r"partial_count") >= 1  # map-side combine present


def test_sessionize_windows_are_chunk_scoped(spark):
    """Every ordered window in the chunked sessionize partitions by
    (user, bucket) or runs over the tiny per-bucket frame — no window
    partitioned by the bare user column (the hot-key shape)."""
    from cernan_spark.operators.skew import sessionize_chunked

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(sessionize_chunked(ev, "user_id", "event_id", "ts"))
    windows = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert windows, "expected window operators in the plan"
    for w in windows:
        spec = w.split("windowspecdefinition", 1)[1]
        if "user_id" in spec:
            assert "_bkt" in spec, f"bare per-user window found: {w.strip()[:120]}"


def test_asof_broadcast_fact_side_never_shuffles(spark):
    """As-of enrichment: the versions array broadcasts; the fact side is
    joined with BroadcastHashJoin and NEVER appears under a hash exchange
    — the whole point of the sorted-array pick over a range join."""
    from cernan_spark.operators.temporal import asof_join_broadcast

    fact = spark.range(5000).select(
        (F.col("id") % 7).cast("string").alias("key"),
        (F.col("id") % 997).alias("ts"),
        F.col("id").alias("row_id"),
    )
    dim = spark.range(21).select(
        (F.col("id") % 7).cast("string").alias("key"),
        (F.col("id") * 100).alias("valid_from"),
        F.concat(F.lit("s"), F.col("id")).alias("sink"),
    )
    out = asof_join_broadcast(fact, dim, ["key"], "ts", "valid_from", ["sink"])
    plan = _final_plan(out)
    assert _count(plan, r"BroadcastHashJoin") == 1
    assert _count(plan, r"SortMergeJoin") == 0
    # the only hash exchange allowed is the tiny dim-side groupBy
    # (collect_list per key); the fact side reaches the join scan-local
    assert _count(plan, r"Exchange hashpartitioning") <= 1


def test_bloom_probe_is_narrow_over_the_corpus(spark):
    """Bloom probe: the filter arrives as a BroadcastNestedLoopJoin of a
    1-row side; the probe corpus itself never hash-shuffles (the build
    side's two tiny aggregates are the only exchanges)."""
    from cernan_spark.operators.sketch import bloom_build, bloom_probe_shingles

    items = spark.range(100).select(
        F.concat(F.lit("it-"), F.col("id")).alias("item")
    )
    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.array(F.concat(F.lit("it-"), F.col("id") % 150)).alias("shingles"),
    )
    out = bloom_probe_shingles(docs, bloom_build(items))
    plan = _final_plan(out)
    assert _count(plan, r"BroadcastNestedLoopJoin") == 1
    assert _count(plan, r"SortMergeJoin|ShuffledHashJoin") == 0
    # exchanges belong to the build side only: word groupBy + final
    # 1-row densify (AQE may coalesce; never more than these two)
    assert _count(plan, r"Exchange hashpartitioning") <= 1
    assert _count(plan, r"Exchange SinglePartition") <= 1


def test_interval_join_is_hash_equi_join_not_nested_loop(spark):
    """The bucketized range join must plan as an equi-join on the bucket
    (hash or broadcast), NOT the O(n·m) BroadcastNestedLoopJoin Spark
    produces for a raw θ-join."""
    from cernan_spark.operators.temporal import interval_bucket_join

    points = spark.range(10000).select(
        (F.col("id") * 13 % 100000).alias("epoch"), F.lit(1).alias("cents")
    )
    intervals = spark.range(5).select(
        (F.col("id") * 9000).alias("win_start"),
        (F.col("id") * 9000 + 7000).alias("win_end"),
    )
    out = interval_bucket_join(points, intervals, bucket_seconds=3600)
    plan = _final_plan(out)
    assert _count(plan, r"BroadcastNestedLoopJoin") == 0
    assert _count(plan, r"CartesianProduct") == 0
    assert (
        _count(plan, r"BroadcastHashJoin")
        + _count(plan, r"SortMergeJoin")
        + _count(plan, r"ShuffledHashJoin")
        == 1
    )


def test_ewma_is_one_hash_aggregate(spark):
    """EWMA: one partial+final hash aggregate pair over the series key —
    no window, no sort of the full frame (ordering happens inside the
    collected per-series array)."""
    from cernan_spark.operators.temporal import ewma_fold

    series = spark.range(10000).select(
        (F.col("id") % 50).alias("k"),
        F.col("id").alias("i"),
        (F.col("id") % 17).cast("double").alias("value"),
    )
    plan = _plan(ewma_fold(series, ["k"], ["i"]))
    assert _count(plan, r"Exchange hashpartitioning") == 1
    assert _count(plan, r"Window\b") == 0
    assert _count(plan, r"(?m)^\s*\*?\(?\d*\)?\s*Sort\b") == 0


def test_rollup_tiers_fine_tier_materialized_once(spark):
    """Coarser tiers re-aggregate the MATERIALIZED fine tier: the final
    plan must contain zero raw scans (raw was scanned exactly once, in
    the fine tier's checkpoint job) — without the materialization every
    union branch re-derives fine from raw, one full scan per tier."""
    from cernan_spark.operators.aggregate import rollup_tiers

    df = spark.read.parquet(f"{SF}/events.parquet").select(
        F.lit("m").alias("name"), F.lit("SUM").alias("kind"),
        F.unix_timestamp("ts").alias("epoch"),
        (F.col("event_id") % 100).alias("cents"),
    )
    out = rollup_tiers(df, ["name", "kind"], "epoch", "cents",
                       tiers=(60, 600, 3600))
    assert _count(_final_plan(out), r"Scan parquet") == 0


def test_funnel_frontiers_materialized(spark):
    """Funnel assembly reads only checkpointed per-step frontiers — the
    final plan re-scans no events; each step's filtered scan ran exactly
    once during its frontier checkpoint."""
    from cernan_spark.operators.behavior import funnel_steps

    ev = spark.read.parquet(f"{SF}/events.parquet")
    out = funnel_steps(ev, ["click", "view", "purchase"])
    assert _count(_final_plan(out), r"Scan parquet") == 0


def test_slo_burn_short_tier_materialized(spark):
    """Both the long-tier re-agg and the final join read the
    materialized short tier — raw scanned once."""
    from cernan_spark.operators.anomaly import slo_burn_windows

    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        F.unix_timestamp("ts").alias("epoch"),
        (F.col("event_type") == "error").alias("is_err"),
    )
    out = slo_burn_windows(ev, "epoch", "is_err")
    assert _count(_final_plan(out), r"Scan parquet") == 0


def test_sustained_alerts_single_exchange(spark):
    """Gaps-and-islands: both row_number windows and the island groupBy
    share the series partitioning — exactly ONE exchange."""
    from cernan_spark.operators.anomaly import sustained_alerts

    series = spark.range(20000).select(
        (F.col("id") % 100).cast("string").alias("k"),
        F.col("id").alias("o"),
        (F.col("id") % 23).alias("cents"),
    )
    plan = _final_plan(
        sustained_alerts(series, ["k"], "o", "cents", 10, min_run=3)
    )
    assert _count(plan, r"Exchange hashpartitioning") == 1


def test_dynamic_partition_pruning_on_date_partitioned_fact(spark, tmp_path):
    """Star-join over a date-partitioned fact: a selective dim filter must
    reach the fact scan as a dynamic partition-pruning subquery, so at
    100 TB the scan opens only the matching day directories instead of
    the full table. Guarded structurally: the fact scan carries a
    dynamicpruning expression in its partition filters."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    fact_path = str(tmp_path / "events_by_day")
    ev.withColumn("day", F.to_date("ts")).write.partitionBy("day").mode(
        "overwrite"
    ).parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    days = [r["day"] for r in fact.select("day").distinct().orderBy("day").collect()]
    dim = spark.createDataFrame(
        [(d, 1) for d in days[:2]], "day date, flag int"
    )
    dim_path = str(tmp_path / "dim_days")
    dim.write.mode("overwrite").parquet(dim_path)
    j = fact.join(
        spark.read.parquet(dim_path).filter(F.col("flag") == 1), "day"
    )
    plan = _plan(j)
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    # and the pruned read returns exactly the two selected days
    assert j.select("day").distinct().count() == 2


def test_bloom_runtime_filter_prunes_shuffle_join_probe(spark):
    """Selective-dim shuffle join: Spark's InjectRuntimeFilter must plant
    a bloom might_contain() predicate on the fact side so, at 100 TB,
    probe rows that cannot match are dropped at the scan instead of
    being shuffled. The application-side size threshold is lowered to
    make the tiny test scan eligible — the structural assert (filter
    present + identical results) is scale-independent."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF}/orders.parquet")
        j = li.join(
            orders.filter(F.col("o_orderstatus") == "F"),
            li.l_orderkey == orders.o_orderkey,
        )
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in opt, opt[:2000]
        n_filtered = j.count()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    # the bloom filter is advisory only: same rows with it disabled
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    n_plain = li.join(
        orders.filter(F.col("o_orderstatus") == "F"),
        li.l_orderkey == orders.o_orderkey,
    ).count()
    assert n_filtered == n_plain


def test_aqe_splits_skewed_join_partition(spark):
    """A hot join key (2/3 of all rows) must trigger AQE's skew-join
    split — the runtime answer to key skew that salting handles at the
    operator level (operators/skew.py): the skewed shuffle partition is
    split across tasks and the matching dim partition duplicated, so one
    straggler task never owns 2/3 of a 100 TB shuffle. Thresholds are
    lowered to make the tiny test shuffle eligible; the structural
    assert (skew=true on the final SMJ) is scale-independent."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "8",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(300000).select(
            F.when(F.col("id") < 200000, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        right = spark.range(1000).select(
            F.col("id").alias("k"), F.lit("dim").alias("name")
        )
        # keep pad in the output: pruning it would shrink the shuffle
        # below the skew threshold at this toy size
        j = left.join(right, "k")
        assert len(j.collect()) == 300000  # every key matches
        plan = _plan(j)
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:1500]
        assert "skewed" in plan  # the AQEShuffleRead actually split it
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_bpe_pairs_explodes_vocab_not_corpus(spark):
    """The Sennrich property as a plan fact: pair explosion must hang off
    the (vocab-sized) word-count AGGREGATE, not off the corpus scan —
    exactly two exchanges (word count, pair count) and the generator
    sits above the first hash aggregate."""
    import re

    from cernan_spark.operators.textstats import bpe_pair_counts

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _final_plan(bpe_pair_counts(d, top_k=10))
    # exchanges: word-grain, pair-grain, and the final top-k single
    # partition gather — but never a corpus-grain wide shuffle
    n_hash_ex = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_hash_ex == 2, plan[:1200]
    # the explode (Generate) consumes the aggregate, not the file scan:
    # in the linearized plan the first HashAggregate appears BELOW
    # (later in text than) the Generate that feeds the pair count
    gen = plan.index("Generate explode")
    assert "HashAggregate" in plan[gen:], "explode must sit above the word-count aggregate"


def test_event_pattern_single_exchange(spark):
    """The per-user sequence build is ONE hash exchange on user_id; the
    regex scoring is a narrow map above it (no window, no second
    shuffle)."""
    import re

    from cernan_spark.operators.behavior import event_pattern_match

    ev = spark.read.parquet(f"{SF}/events.parquet")
    out = event_pattern_match(
        ev, {"click": "c", "view": "v", "purchase": "p"}, "c[cv]*p"
    )
    plan = _final_plan(out)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan[:1200]
    assert "Window" not in plan


def test_flagship_runs_no_python_and_no_config_join(spark):
    """The flagship's outputs plan with no Python crossing: no scan of a
    Python RDD (a ``createDataFrame`` config table re-runs Python workers
    on every action that rebuilds its broadcast) and no Python UDF node.
    Enrichment is a projection: no join at all under the aggregates, and
    ``enrich_tags_fast`` adds none to its input."""
    from cernan_spark.operators.enrich import enrich_tags_fast
    from cernan_spark.plans.pipeline import parse_stage, run_pipeline
    from cernan_spark.sources.dimensions import (
        DEFAULT_ROUTES, ROUTE_SCHEMA, default_tag_dicts,
    )
    from cernan_spark.sources.transcripts import synthetic_transcripts

    t = synthetic_transcripts(spark, n_convs=20, turns_per_conv=10, seed=3)
    # a caller's createDataFrame routes leave the plan too
    routes = spark.createDataFrame(DEFAULT_ROUTES, ROUTE_SCHEMA)
    out = run_pipeline(spark, t, routes=routes)
    for name in ("aggregates", "routed_telemetry", "routed_logs"):
        plan = _final_plan(out[name])
        assert _count(plan, r"ExistingRDD") == 0, (name, plan)
        assert _count(plan, r"BatchEvalPython|ArrowEvalPython") == 0, (name, plan)
    agg_plan = _final_plan(out["aggregates"])
    assert _count(agg_plan, r"BroadcastHashJoin") == 0, agg_plan

    tel = parse_stage(t)["telemetry"]
    joins = r"\w+Join\b"
    assert _count(_plan(enrich_tags_fast(tel, default_tag_dicts(spark))), joins) == _count(
        _plan(tel), joins
    )


def test_gauge_carry_forward_two_exchanges_no_join(spark):
    """The gauge fold shuffles twice — on (series, bin) for the fold and
    its per-bin aggregate, then on the series for the merge over bins and
    the gap fill — and never joins."""
    from cernan_spark.operators.aggregate import gauge_carry_forward

    g = spark.createDataFrame(
        [("lO", 1.0, "SET", 0, 1), ("lO", 2.0, "SUM", 1, 2), ("lO", 0.0, "SET", 130, 3)],
        "name string, value double, kind string, event_epoch long, order_key long",
    ).withColumn("ts", F.lit(None).cast("timestamp"))
    plan = _final_plan(gauge_carry_forward(g, bin_width=60, key_cols=["name"]))
    assert _count(plan, r"Exchange") == 2, plan
    assert _count(plan, r"\w+Join\b") == 0, plan


def test_wavefront_persist_reinsert_no_shuffled_join(spark):
    """Re-insertion fills each persisted series from its own rows; the
    last flush's bin arrives as a one-row broadcast, so nothing is joined
    through a shuffle."""
    from cernan_spark.operators.aggregate import wavefront_persist_reinsert

    agg = spark.createDataFrame(
        [("g", 1, "SET", 7.0, 1, True), ("g", 3, "SET", 9.0, 1, True),
         ("c", 5, "SUM", 1.0, 1, False)],
        "name string, bin long, kind string, agg_value double, n_points long, "
        "persist boolean",
    )
    plan = _final_plan(wavefront_persist_reinsert(agg, ["name"]))
    assert _count(plan, r"SortMergeJoin|ShuffledHashJoin") == 0, plan
