"""Per-query isolation harness for the optimization rounds (guide §1).

Builds the SAME query plans bench.py times, but:

* times each query alone with the noop sink (guide §1.4) — best of N reps
  after a warmup, with a forced driver GC at rep boundaries;
* labels each job (guide §1.5) so the UI/event log is attributable;
* dumps ``.explain("formatted")`` for every query to ``plans/<tag>/`` so
  plan-shape claims (Exchange count, join strategy, PushedFilters) are
  checkable offline. The synthetic input's temporary directory is written
  as ``<synth>``, so two dumps of the same code are byte-identical and
  ``diff -r`` of the dumps at two commits shows only plan changes.

bench.py itself is FROZEN for driver measurement; this file is the
builder's own instrumentation and its numbers are only cited as evidence
in OPTIMIZATION_r*.md.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 SPARK_GRAFT_CPUS=32 \
        python bench_extra.py [--plans-dir plans/r06 --suffix _before] \
        [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402


def _build_all(spark, sf_dir: str, synth_turns: int):
    """Return {name: DataFrame} for every bench.py-timed query, built the
    same way bench.py builds them."""
    import __spark_entry__ as entry
    from cernan_spark.operators.dedup import minhash_lsh_candidates
    from cernan_spark.plans.pipeline import run_pipeline
    from cernan_spark.sources.transcripts import (
        synthetic_transcripts,
        transcripts_from_events,
    )

    dfs = {}
    t = transcripts_from_events(spark, sf_dir).localCheckpoint(eager=True)
    dfs["pipeline_e2e_sf"] = run_pipeline(spark, t)["aggregates"]

    synth_dir = tempfile.mkdtemp(prefix="bench_extra_synth_")
    synthetic_transcripts(
        spark, n_convs=synth_turns // 40, turns_per_conv=40
    ).write.mode("overwrite").parquet(synth_dir)
    synth = spark.read.parquet(synth_dir)
    dfs["pipeline_e2e_synth"] = run_pipeline(spark, synth)["aggregates"]

    for name in (
        "bucket_sum",
        "bucket_quantiles",
        "gauge_carry_forward",
        "route_fanout",
        "dedup_exact",
        "ann_cosine_topk",
        "grok_apache",
        "context_pack",
        "priority_sample",
        "region_revenue",
    ):
        dfs[name] = entry.queries()[name](spark, sf_dir)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dfs["minhash_dedup"] = minhash_lsh_candidates(docs, portable=False).select(
        "id_a", "id_b", "n_match", "est_jaccard"
    )
    return dfs, synth_dir


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--plans-dir", default=None, help="dump explain() here")
    ap.add_argument("--suffix", default="", help="plan file suffix, e.g. _before")
    ap.add_argument("--reps", type=int, default=int(os.environ.get("BENCH_REPS", "3")))
    ap.add_argument(
        "--plan-only", action="store_true",
        help="dump plans and exit without timing (cheap, driver-side)",
    )
    ap.add_argument("queries", nargs="*", help="subset of query names")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from cernan_spark.session import get_spark

    spark = get_spark(
        app_name="cernan_spark_bench_extra", cpus=cpus, shuffle_partitions=cpus,
        extra_conf={"spark.cleaner.periodicGC.interval": "30min"},
    )
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.read.parquet(f"{sf_dir}/events.parquet").count()  # warm footers

    dfs, synth_dir = _build_all(spark, sf_dir, int(os.environ.get("BENCH_SYNTH_TURNS", "2000000")))
    if args.queries:
        dfs = {k: v for k, v in dfs.items() if k in set(args.queries)}

    if args.plans_dir:
        os.makedirs(args.plans_dir, exist_ok=True)
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        for name, df in dfs.items():
            p = os.path.join(args.plans_dir, f"{name}{args.suffix}.txt")
            with open(p, "w") as fh:
                plan = df._jdf.queryExecution().explainString(mode)
                fh.write(plan.replace(synth_dir, "<synth>"))

    if args.plan_only:
        import shutil

        shutil.rmtree(synth_dir, ignore_errors=True)
        print(json.dumps({"sf": sf_dir, "plans": args.plans_dir}))
        return

    jvm = spark.sparkContext._jvm
    out = {}
    for name, df in dfs.items():
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")

        def run():
            df.write.format("noop").mode("overwrite").save()

        run()  # warmup: analysis + codegen compile
        times = []
        for _ in range(args.reps):
            jvm.System.gc()
            t0 = time.perf_counter()
            run()
            times.append(time.perf_counter() - t0)
        out[name] = {"min": round(min(times), 3), "reps": [round(x, 3) for x in times]}
        spark.sparkContext.setJobDescription(None)
        print(f"{name}: {out[name]}", file=sys.stderr)

    import shutil

    shutil.rmtree(synth_dir, ignore_errors=True)
    print(json.dumps({"sf": sf_dir, "cpus": cpus, "queries": out}))


if __name__ == "__main__":
    main()
