"""Closed-loop benchmark of cernan_spark: the flagship pipeline, the full
sink-writing job and the operator suite, on ``local[<cores>]``.

    python3 perfbench/run.py --workload pipeline_synth --seed 1 --seconds 10 --trace 0

Workloads: ``pipeline_synth``, ``job_sinks``, ``operator_suite``. Run from
the repository root. Human-readable lines come first; the last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` runs the per-layer traced run instead (perfbench/tracing.py).

    python3 perfbench/run.py --workload job_sinks --record-goldens 0-31

records output fingerprints for those seeds into perfbench/goldens.json
(``operator_suite`` reads fixed tables, so it records once per size).
Every file the run writes goes under ``.perfbench_work/`` and is deleted
at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GOLDENS = os.path.join(HERE, "goldens.json")
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "scripts")]


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["pipeline_synth", "job_sinks", "operator_suite"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["default", "tiny"], default="default",
                    help="input sizes (tiny: smoke test)")
    ap.add_argument("--goldens", default=GOLDENS, help="golden fingerprints file")
    ap.add_argument("--spans", default=os.path.join(ROOT, ".perfbench_spans.json"),
                    help="where the traced run writes its spans")
    ap.add_argument("--record-goldens", metavar="SEEDS",
                    help="record goldens for seeds 'a-b' or 'a,b,c' instead of timing")
    return ap.parse_args(argv)


def emit(name: str, value: float, unit: str, note: str = "") -> None:
    print(f"{name:<28} {value:>14.6g} {unit:<6} {note}".rstrip())


def timed_run(args, work: str) -> dict:
    from harness import (
        RssSampler, cores, host_info, load_goldens, quartiles, start_session, timed_reps,
    )
    from workloads import WORKLOADS

    n = cores()
    t0 = time.perf_counter()
    spark = start_session(work, n)
    spark.range(1).count()  # the session is usable
    session_s = time.perf_counter() - t0
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.size)
        t1 = time.perf_counter()
        wl.make_inputs()  # the load generator: not part of set-up
        phases = {"session": session_s, "inputs": time.perf_counter() - t1}
        t1 = time.perf_counter()
        wl.setup()  # cold: the plan build and warm-up rep pay codegen and JIT
        phases["setup"] = time.perf_counter() - t1
        setup_s = session_s + phases["setup"]
        t1 = time.perf_counter()
        while time.perf_counter() - t1 < wl.warm_s:  # past the JIT ramp
            wl.rep(-1)
        phases["warm"] = time.perf_counter() - t1

        sampler = RssSampler(spark)
        times, errors = timed_reps(spark, wl, args.seconds, sampler)
        peak_rss_mb = sampler.close()

        golden = load_goldens(args.goldens).get(wl.name, {}).get(wl.golden_key)
        t1 = time.perf_counter()
        try:
            checks = wl.checks(golden)
        except Exception as e:  # noqa: BLE001
            checks = [("output checks ran", False, repr(e)[:300])]
        phases["checks"] = time.perf_counter() - t1
        info = host_info(spark, n)
    finally:
        from harness import stop_session

        stop_session(spark)

    info.update(seed=args.seed, input=wl.input_desc, workload=wl.name,
                golden=wl.golden_key if golden else "none")
    print("# " + " ".join(f"{k}={v}" for k, v in info.items()))
    print("# phase seconds: " + " ".join(f"{k}={v:.2f}" for k, v in phases.items()))
    print("# timed reps: " + " ".join(f"{x:.3f}" for x in times))
    for name, ok, detail in checks:
        print(f"check {'PASS' if ok else 'FAIL'}  {name}" + ("" if ok else f"  ({detail})"))
    for e in errors:
        print(f"rep FAIL  {e}")

    attempted = len(times) + len(errors) + len(checks)
    failed = len(errors) + sum(1 for _, ok, _ in checks if not ok)
    metrics = {"setup_s": (setup_s, "s")}
    emit(f"{wl.name}.setup_s", setup_s, "s",
         f"session {session_s:.3f} + cold set-up {phases['setup']:.3f}")
    if times:
        q1, med, q3 = quartiles(times)
        metrics["wall_s"] = (med, "s")
        emit(f"{wl.name}.wall_s", med, "s", f"q1={q1:.4f} q3={q3:.4f} n={len(times)}")
        if wl.turns is not None:  # printed only: it is wall_s restated
            emit(f"{wl.name}.turns_per_s", wl.turns / med, "1/s")
    metrics["peak_rss_mb"] = (peak_rss_mb, "MB")
    emit(f"{wl.name}.peak_rss_mb", peak_rss_mb, "MB")
    emit(f"{wl.name}.failed_frac", failed / max(attempted, 1), "1")
    for layer, ts in getattr(wl, "query_s", {}).items():
        emit(f"  {layer}", statistics.median(ts), "s")
    return {
        "correct": failed == 0,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def record_goldens(args, work: str) -> None:
    from harness import cores, load_goldens, start_session, stop_session
    from workloads import WORKLOADS

    if "-" in args.record_goldens:
        a, b = map(int, args.record_goldens.split("-"))
        seeds = list(range(a, b + 1))
    else:
        seeds = [int(s) for s in args.record_goldens.split(",")]
    if args.workload == "operator_suite":
        seeds = seeds[:1]  # fixed tables: one golden per size
    spark = start_session(work, cores())
    try:
        goldens = load_goldens(args.goldens)
        for seed in seeds:
            wl = WORKLOADS[args.workload](spark, work, seed, args.size)
            wl.make_inputs()
            wl.setup()
            bad = [c for c in wl.checks(None) if not c[1] and not c[0].startswith("golden")]
            if bad:
                raise SystemExit(f"seed {seed}: checks fail before recording: {bad}")
            goldens.setdefault(wl.name, {})[wl.golden_key] = wl.outputs()
            print(f"recorded {wl.name} {wl.golden_key}", flush=True)
            with open(args.goldens, "w") as f:
                json.dump(goldens, f, indent=1, sort_keys=True)
                f.write("\n")
    finally:
        stop_session(spark)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "cernan_spark")):
        print("run from the repository root: cernan_spark/ not found", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    from harness import prepare_env

    prepare_env(work)
    try:
        if args.record_goldens:
            record_goldens(args, work)
            return 0
        if args.trace:
            from tracing import traced_run

            result = traced_run(args, work)
        else:
            result = timed_run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
