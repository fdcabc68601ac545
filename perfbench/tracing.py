"""The traced run: per-layer metrics, separate from the timed runs.

One JVM writes a local ``spark.eventLog.dir`` and labels the jobs of each
layer with ``setJobGroup("<workload>:<layer>")``. For ``pipeline_synth``
and ``operator_suite`` it traces the layers of both:

- the flagship layers as cumulative prefixes built from the public
  functions (scan → ``parse_stage`` → ``enrich_tags_fast`` →
  ``bucket_aggregate_onepass`` → ``route``); a layer's self time is its
  prefix's median time minus the previous prefix's;
- the eleven suite queries, with ``spread_scan`` wrapped to count its calls
  and time while the plans are built.

After the context stops, the same JVM runs the flagship on ``local[1]`` for
the 1→N scaling efficiency, and the event log is parsed for per-layer jobs,
task times, shuffle and spill.

For ``job_sinks`` it traces one job rep instead, between two untraced
ones: each public call is its own layer and each sink is timed by wrapping
``checkpointed_write``. A job rep costs 35-55 s, so the other two workloads'
traced runs leave it out to stay within their time limit.

``trace.overhead_s`` is the named workload's rep with labels, spans and
wrappers minus the same rep without them, both in the traced JVM (so it
leaves out the event log's own cost). Spans (name, start, end, parent,
workload, rep) are kept in memory and written to the ``--spans`` file when
the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from harness import (
    cores, host_info, jvm_gc, load_goldens, start_session, stop_session,
)
from workloads import SIZES, SUITE, WORKLOADS, noop_write

PIPE = "pipeline_synth"
JOB = "job_sinks"
SUITE_WL = "operator_suite"
PREFIXES = [
    "sources.scan",
    "plans.pipeline.parse_stage",
    "operators.enrich",
    "operators.aggregate",
    "operators.route",
]
PREFIX_REPS = 3  # timed noop writes per flagship prefix; self times use their median
SINKS = ["console", "wavefront", "prometheus", "influxdb", "elasticsearch", "kafka"]
UNITS = {
    "jobs": "count", "tasks": "count", "task_s_p50": "s", "task_s_max": "s",
    "shuffle_write_mb": "MB", "shuffle_read_mb": "MB", "spill_mb": "MB",
}


class Tracer:
    """In-memory spans; each span labels its Spark jobs with a job group."""

    def __init__(self, spark, tag: str = ""):
        self.sc = spark.sparkContext
        self.tag = tag
        self.spans: list[dict] = []
        self.stack: list[str] = []
        self.t_origin = time.perf_counter()

    def label(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    @contextlib.contextmanager
    def span(self, workload: str, layer: str, rep: int = 0):
        group = f"{self.tag}{workload}:{layer}"
        parent = self.stack[-1] if self.stack else None
        self.stack.append(group)
        self.label(group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.stack.pop()
            self.label(self.stack[-1] if self.stack else "trace:untraced")
            self.spans.append({
                "name": layer, "workload": workload, "rep": rep, "parent": parent,
                "start": t0 - self.t_origin, "end": t1 - self.t_origin,
            })

    def total(self, workload: str, layer: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["workload"] == workload and s["name"] == layer)

    def median(self, workload: str, layer: str) -> float:
        xs = [s["end"] - s["start"] for s in self.spans
              if s["workload"] == workload and s["name"] == layer]
        return statistics.median(xs)


# -- event log -----------------------------------------------------------------


def parse_event_log(log_dir: str, input_path: str) -> dict:
    """Per job group: jobs, task durations, shuffle/spill bytes, and the
    number of parquet scans of ``input_path`` in the executed SQL plans."""
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    stage_group, exec_group, exec_plan = {}, {}, {}
    groups: dict[str, dict] = {}

    def g(name):
        return groups.setdefault(name, {
            "jobs": 0, "task_s": [], "shuffle_write": 0, "shuffle_read": 0,
            "spill": 0, "scans": 0,
        })

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                grp = props.get("spark.jobGroup.id", "trace:untraced")
                g(grp)["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, grp)
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    exec_group.setdefault(int(eid), grp)
            elif kind == "SparkListenerTaskEnd":
                grp = stage_group.get(ev["Stage ID"], "trace:untraced")
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                s = g(grp)
                s["task_s"].append((info["Finish Time"] - info["Launch Time"]) / 1000.0)
                s["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0)
                rd = m.get("Shuffle Read Metrics", {})
                s["shuffle_read"] += rd.get("Remote Bytes Read", 0) + rd.get(
                    "Local Bytes Read", 0)
                s["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0)
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                exec_plan[ev["executionId"]] = ev["sparkPlanInfo"]

    target = os.path.abspath(input_path)

    def scans(node) -> int:
        if node["nodeName"].startswith("InMemoryTableScan"):
            return 0  # a cached relation is not a pass over the input
        own = int(
            node["nodeName"].startswith("Scan parquet")
            and target in node.get("metadata", {}).get("Location", "")
        )
        return own + sum(scans(c) for c in node.get("children", []))

    for eid, plan in exec_plan.items():
        if eid in exec_group:
            g(exec_group[eid])["scans"] += scans(plan)
    return groups


def layer_stats(groups: dict, group: str, runs: int = 1) -> dict:
    s = groups.get(group)
    if s is None:
        return {k: 0.0 for k in UNITS}
    ts = s["task_s"] or [0.0]
    mb = 1024.0 * 1024.0
    return {
        "jobs": s["jobs"] / runs,
        "tasks": len(s["task_s"]) / runs,
        "task_s_p50": statistics.median(ts),
        "task_s_max": max(ts),
        "shuffle_write_mb": s["shuffle_write"] / runs / mb,
        "shuffle_read_mb": s["shuffle_read"] / runs / mb,
        "spill_mb": s["spill"] / runs / mb,
    }


# -- the traced layers -----------------------------------------------------------


def _median_of(fn, n: int) -> float:
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def trace_job(spark, tr: Tracer, wl, out: dict) -> float:
    """One job rep, each sink timed by wrapping ``checkpointed_write``."""
    import cernan_spark.plans.sinks as sinks_mod

    real = sinks_mod.checkpointed_write

    def traced_write(spark_, df, out_path, lineage_path, **kw):
        sink = os.path.basename(out_path)
        with tr.span(JOB, f"plans.sinks.{sink}"):
            return real(spark_, df, out_path, lineage_path, **kw)

    sinks_mod.checkpointed_write = traced_write
    try:
        jvm_gc(spark)
        t0 = time.perf_counter()
        with tr.span(JOB, "rep"):
            result = wl._run(0, span=lambda layer: tr.span(JOB, layer))
        wall = time.perf_counter() - t0
    finally:
        sinks_mod.checkpointed_write = real
    tr.label("trace:bookkeeping")
    lineage = spark.read.parquet(os.path.join(result["dir"], "lineage"))
    rows = {r["sink"]: float(r["n"]) for r in
            lineage.groupBy("sink").agg(F.sum("n_rows").alias("n")).collect()}
    for s in SINKS:
        out[f"plans.sinks.{s}.rows_out"] = rows.get(s, 0.0)
    wl.after_rep(0, result)
    return wall


def trace_pipeline(spark, tr: Tracer, wl, out: dict) -> tuple[float, float]:
    """Cumulative prefixes of the flagship's telemetry path; returns the
    untraced and traced wall time of the full flagship rep."""
    from cernan_spark.functions.statsd import mask_bounds_expr
    from cernan_spark.operators.aggregate import bucket_aggregate_onepass
    from cernan_spark.operators.enrich import enrich_tags_fast
    from cernan_spark.operators.route import route
    from cernan_spark.plans.pipeline import PipelineConfig, parse_stage
    from cernan_spark.sources.dimensions import (
        default_histogram_masks, default_routes, default_tag_dicts,
    )

    with tr.span(PIPE, "plans.pipeline.build"):
        wl.build()

    cfg = PipelineConfig()
    masks = default_histogram_masks(spark)
    scan = spark.read.parquet(wl.input)
    parsed = parse_stage(scan, masks=masks)["telemetry"]
    enriched = enrich_tags_fast(parsed, default_tag_dicts(spark))
    agg = bucket_aggregate_onepass(
        enriched, bin_width=cfg.bin_width, quantiles=cfg.quantiles,
        accuracy=cfg.accuracy, bounds_expr=mask_bounds_expr(masks),
    )
    routed = route(
        agg.withColumn("match_kind_value", F.lit("telemetry")), default_routes(spark)
    ).drop("match_kind_value", "rule_id")
    frames = dict(zip(PREFIXES, [scan, parsed, enriched, agg, routed]))
    # the enrich prefix without its per-row tags map column
    frames["operators.enrich.tags_map"] = enriched.drop("tags")

    prefix_s = {}
    for layer, df in frames.items():
        tr.label("trace:warm")
        rows = Observation()  # the warm-up write counts the prefix's rows
        noop_write(df.observe(rows, F.count(F.lit(1)).alias("n")))
        out[f"{layer}.rows_out"] = float(rows.get["n"])
        jvm_gc(spark)
        for _ in range(PREFIX_REPS):
            with tr.span(PIPE, layer):
                noop_write(df)
        prefix_s[layer] = tr.median(PIPE, layer)
    prev = 0.0
    for layer in PREFIXES:
        out[f"{layer}.self_s"] = prefix_s[layer] - prev
        prev = prefix_s[layer]
    out["operators.enrich.tags_map_s"] = (
        prefix_s["operators.enrich"] - prefix_s["operators.enrich.tags_map"]
    )
    out["plans.pipeline.build.self_s"] = tr.total(PIPE, "plans.pipeline.build")
    plan = agg._jdf.queryExecution().executedPlan().toString()
    out["operators.aggregate.object_hash_aggs"] = float(plan.count("ObjectHashAggregate"))

    # the full flagship rep last, once the prefixes have warmed the JIT
    full = wl.out["aggregates"]
    tr.label("trace:warm")
    noop_write(full)
    jvm_gc(spark)
    tr.label("trace:untraced")
    return _median_of(lambda: noop_write(full), 2), prefix_s["operators.route"]


def trace_suite(spark, tr: Tracer, wl, out: dict, untraced: bool) -> tuple[float, float]:
    """Each suite query as its own layer, ``spread_scan`` counted and timed
    while the plans are built; returns the untraced rep's wall time (0 unless
    ``untraced``) and the traced rep's."""
    import cernan_spark.sources.tables as tables_mod

    real = tables_mod.spread_scan
    calls = []

    def counted(df, *keys):
        t0 = time.perf_counter()
        try:
            return real(df, *keys)
        finally:
            calls.append(time.perf_counter() - t0)

    tables_mod.spread_scan = counted
    try:
        with tr.span(SUITE_WL, "build"):
            wl.frames = wl.build()
    finally:
        tables_mod.spread_scan = real
    out["sources.tables.spread_scan.self_s"] = sum(calls)
    out["sources.tables.spread_scan.calls"] = float(len(calls))
    tr.label("trace:warm")
    wl.rep(0)
    jvm_gc(spark)
    base = 0.0
    if untraced:
        tr.label("trace:untraced")
        base = _median_of(lambda: wl.rep(1), 1)
        jvm_gc(spark)
    t0 = time.perf_counter()
    for layer, df in wl.frames.items():
        with tr.span(SUITE_WL, layer):
            noop_write(df)
        out[f"{layer}.self_s"] = tr.total(SUITE_WL, layer)
    return base, time.perf_counter() - t0


def scaling_rep(work: str, path: str) -> float:
    """The flagship rep on ``local[1]``: a fresh context in the JVM the
    traced run warmed, whose codegen cache and JIT it reuses, so it needs no
    warm-up rep of its own."""
    from cernan_spark.plans.pipeline import run_pipeline

    spark = start_session(work, 1)
    try:
        df = run_pipeline(spark, spark.read.parquet(path))["aggregates"]
        jvm_gc(spark)
        return _median_of(lambda: noop_write(df), 1)
    finally:
        stop_session(spark)  # stops the JVM too


def pipeline_metrics(m: dict, out: dict, groups: dict) -> None:
    for layer in PREFIXES:
        m[f"{layer}.self_s"] = (out[f"{layer}.self_s"], "s")
        m[f"{layer}.rows_out"] = (out[f"{layer}.rows_out"], "count")
        for k, v in layer_stats(groups, f"{PIPE}:{layer}", runs=PREFIX_REPS).items():
            m[f"{layer}.{k}"] = (v, UNITS[k])
    m["operators.enrich.tags_map_s"] = (out["operators.enrich.tags_map_s"], "s")
    m["operators.aggregate.object_hash_aggs"] = (
        out["operators.aggregate.object_hash_aggs"], "count")
    m["plans.pipeline.build.self_s"] = (out["plans.pipeline.build.self_s"], "s")
    m["plans.pipeline.build.jobs"] = (
        layer_stats(groups, f"{PIPE}:plans.pipeline.build")["jobs"], "count")


def suite_metrics(m: dict, out: dict) -> None:
    m["sources.tables.spread_scan.self_s"] = (out["sources.tables.spread_scan.self_s"], "s")
    m["sources.tables.spread_scan.calls"] = (out["sources.tables.spread_scan.calls"], "count")
    for layer, _ in SUITE:
        m[f"{layer}.self_s"] = (out[f"{layer}.self_s"], "s")


def job_metrics(m: dict, out: dict, groups: dict, tr: Tracer, job_wall: float) -> None:
    m[f"{JOB}.wall_s"] = (job_wall, "s")
    m["sources.scan.passes"] = (float(sum(
        s["scans"] for grp, s in groups.items() if grp.startswith(JOB + ":"))), "count")
    sink_total = 0.0
    for s in SINKS:
        layer = f"plans.sinks.{s}"
        t = tr.total(JOB, layer)
        sink_total += t
        m[f"{layer}.self_s"] = (t, "s")
        m[f"{layer}.rows_out"] = (out[f"{layer}.rows_out"], "count")
        for k, v in layer_stats(groups, f"{JOB}:{layer}").items():
            m[f"{layer}.{k}"] = (v, UNITS[k])
    m["plans.sinks.write_sinks.self_s"] = (
        tr.total(JOB, "plans.sinks.write_sinks") - sink_total, "s")
    for layer in ("plans.telemetry.internal_telemetry", "plans.checkpoint.run_metrics"):
        st = layer_stats(groups, f"{JOB}:{layer}")
        m[f"{layer}.self_s"] = (tr.total(JOB, layer), "s")
        m[f"{layer}.jobs"] = (st["jobs"], "count")
        m[f"{layer}.tasks"] = (st["tasks"], "count")


def traced_run(args, work: str) -> dict:
    n = cores()
    t_start = time.perf_counter()
    phases: dict[str, float] = {}

    def lap(name: str) -> None:
        phases[name] = time.perf_counter() - t_start - sum(phases.values())

    log_dir = os.path.join(work, "eventlog")
    spark = start_session(work, n, event_log_dir=log_dir)
    tr = Tracer(spark)
    out: dict[str, float] = {}
    job = args.workload == JOB
    names = [JOB] if job else [PIPE, SUITE_WL]
    wls = {name: WORKLOADS[name](spark, work, args.seed, args.size) for name in names}
    try:
        tr.label("trace:inputs")
        for wl in wls.values():
            wl.make_inputs()
        info = host_info(spark, n)
        lap("start")
        if job:
            # a cold rep warms the JVM; the overhead compares the two after it
            tr.label("trace:warm")
            wls[JOB].after_rep(1, wls[JOB]._run(1))
            traced = trace_job(spark, tr, wls[JOB], out)
            tr.label("trace:untraced")
            jvm_gc(spark)
            t0 = time.perf_counter()
            wls[JOB].after_rep(2, wls[JOB]._run(2))
            untraced = time.perf_counter() - t0
            lap(JOB)
        else:
            walls = {PIPE: trace_pipeline(spark, tr, wls[PIPE], out)}
            lap(PIPE)
            walls[SUITE_WL] = trace_suite(
                spark, tr, wls[SUITE_WL], out, untraced=args.workload == SUITE_WL)
            lap(SUITE_WL)
            untraced, traced = walls[args.workload]
        tr.label("trace:checks")
        wl = wls[args.workload]
        checks = wl.checks(load_goldens(args.goldens).get(wl.name, {}).get(wl.golden_key))
    except BaseException:
        stop_session(spark)
        raise
    lap("checks")
    if job:
        stop_session(spark)  # flushes the event log
    else:
        spark.stop()  # flushes the event log; the JVM stays up for the local[1] rep
        t_one = scaling_rep(work, wls[PIPE].input)
        lap("local1")
    groups = parse_event_log(log_dir, wls[names[0]].input)
    lap("eventlog")

    m: dict[str, tuple[float, str]] = {}
    if job:
        job_metrics(m, out, groups, tr, traced)
    else:
        untraced_pipe = walls[PIPE][0]
        m[f"{PIPE}.wall_s"] = (untraced_pipe, "s")
        m[f"{PIPE}.scaling_eff_1toN"] = (t_one / (n * untraced_pipe), "ratio")
        pipeline_metrics(m, out, groups)
        suite_metrics(m, out)
    m["trace.overhead_s"] = (traced - untraced, "s")

    with open(args.spans, "w") as f:
        json.dump(tr.spans, f, indent=0)
    failed = sum(1 for _, ok, _ in checks if not ok)
    print(f"# traced run: workload={args.workload} seed={args.seed} "
          + " ".join(f"{k}={v}" for k, v in info.items())
          + f" sizes={ {k: SIZES[args.size][k] for k in names} }"
          + f" total_s={time.perf_counter() - t_start:.1f}")
    print("# phase seconds: " + " ".join(f"{k}={v:.1f}" for k, v in phases.items()))
    print(f"# {args.workload}: traced rep {traced:.4f} s, untraced rep {untraced:.4f} s")
    for name, ok, detail in checks:
        print(f"check {'PASS' if ok else 'FAIL'}  {name}" + ("" if ok else f"  ({detail})"))
    for k, (v, u) in m.items():
        print(f"{k:<48} {v:>14.6g} {u}")
    return {
        "correct": failed == 0,
        "attempted": max(1, len(checks)),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
    }
