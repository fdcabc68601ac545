"""The three closed-loop workloads. Each one makes its inputs from the seed
(untimed), builds its plans and warms them (set-up), runs timed reps, and
checks its outputs outside the timed windows.

A check is a ``(name, ok, detail)`` tuple; every failed check counts toward
``failed_frac``.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time

from pyspark.sql import functions as F

from harness import fingerprint

HERE = os.path.dirname(os.path.abspath(__file__))

#: input size per workload: synthetic turns, or the suite tables' scale factor
SIZES = {
    "default": {"pipeline_synth": 300_000, "job_sinks": 2_000, "operator_suite": "sf0.01"},
    "tiny": {"pipeline_synth": 10_000, "job_sinks": 2_000, "operator_suite": "sf0.001"},
}

#: seeds whose outputs perfbench/goldens.json holds; for these a missing
#: golden is a failed check, for any other seed only the golden is skipped
SHIPPED_SEEDS = range(0, 32)

#: the queries bench.py times, as (layer name, builder); layer names follow
#: the module that does the query's work
SUITE = [
    ("operators.aggregate.bucket_sum", "bucket_sum"),
    ("operators.aggregate.bucket_quantiles", "bucket_quantiles"),
    ("operators.aggregate.gauge_carry_forward", "gauge_carry_forward"),
    ("operators.route.route_fanout", "route_fanout"),
    ("operators.dedup.dedup_exact", "dedup_exact"),
    ("operators.similarity.ann_cosine_topk", "ann_cosine_topk"),
    ("functions.groklib.grok_apache", "grok_apache"),
    ("operators.conversation.context_pack", "context_pack"),
    ("operators.conversation.priority_sample", "priority_sample"),
    ("operators.relational.region_revenue", "region_revenue"),
    ("operators.dedup.minhash_dedup", None),  # portable=False scale path
]


#: Spark rounds a double half-up from its shortest decimal form, DuckDB from
#: its binary value, so a mean on an exact .xxxx5 tie (710.06 / 16 =
#: 44.37875) rounds apart. These columns are checked against their own
#: inputs instead of compared exactly.
TIE_COLUMNS = {"bucket_quantiles": "mean_value"}


def _rounded_mean_ok(tbl) -> bool:
    """mean_value is samples_sum / n_points rounded to 4 places."""
    d = tbl.to_pydict()
    return all(
        abs(m - s / n) <= 0.5e-4 + 1e-9
        for m, s, n in zip(d["mean_value"], d["samples_sum"], d["n_points"])
    )


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def write_synth(spark, path: str, turns: int, seed: int) -> None:
    from cernan_spark.sources.transcripts import synthetic_transcripts

    synthetic_transcripts(
        spark, n_convs=max(1, turns // 40), turns_per_conv=40, seed=seed
    ).write.mode("overwrite").parquet(path)


def _read_sink(spark, path: str):
    """A sink's written rows, or None when the sink wrote nothing (a sink
    no route feeds leaves an empty directory)."""
    if not any(not f.startswith((".", "_")) for f in os.listdir(path)):
        return None
    return spark.read.parquet(path)


def _golden_checks(kind: str, got: dict, golden: dict | None, shipped: bool) -> list:
    if golden is None:
        missing = (f"golden {kind} recorded", False, "missing for a shipped input")
        return [missing] if shipped else []
    return [
        (f"golden {kind}:{k}", got.get(k) == v, f"got {got.get(k)} want {v}")
        for k, v in sorted(golden.items())
    ]


class PipelineSynth:
    """Noop write of ``run_pipeline(...)["aggregates"]`` over seeded
    synthetic transcripts materialized to parquet."""

    name = "pipeline_synth"
    min_reps, max_reps, warm_s = 3, 200, 8.0

    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark, self.seed = spark, seed
        self.turns = SIZES[size][self.name]
        self.input = os.path.join(work, "synth")
        self.input_desc = f"{self.turns} synthetic turns"
        self.golden_key = f"{self.turns}/{seed}"
        self.shipped = seed in SHIPPED_SEEDS

    def make_inputs(self) -> None:
        write_synth(self.spark, self.input, self.turns, self.seed)

    def build(self) -> None:
        from cernan_spark.plans.pipeline import run_pipeline

        self.out = run_pipeline(self.spark, self.spark.read.parquet(self.input))

    def setup(self) -> None:
        self.build()
        noop_write(self.out["aggregates"])

    def rep(self, i: int):
        noop_write(self.out["aggregates"])

    def after_rep(self, i: int, result) -> None:
        pass

    def outputs(self) -> dict:
        return {"aggregates": fingerprint(self.out["aggregates"])}

    def checks(self, golden: dict | None) -> list:
        agg = self.out["aggregates"].persist()
        got = {"aggregates": fingerprint(agg)}
        agg_pts = {
            r["sink"]: r["n"]
            for r in agg.groupBy("sink")
            .agg(F.sum("n_points").alias("n")).collect()
        }
        routed = {
            r["sink"]: r["n_rows"]
            for r in self.out["routed_telemetry"].groupBy("sink")
            .agg(F.count(F.lit(1)).alias("n_rows")).collect()
        }
        agg.unpersist()
        return [
            ("aggregates non-empty", got["aggregates"]["rows"] > 0, str(got)),
            (
                "aggregate n_points per sink == routed telemetry rows per sink",
                agg_pts == routed and bool(routed),
                f"{agg_pts} vs {routed}",
            ),
            *_golden_checks(self.name, got, golden, self.shipped),
        ]


class JobSinks:
    """The ``jobs/run_pipeline_job.py --metrics`` job through its public
    calls; every rep gets a fresh output and lineage directory."""

    name = "job_sinks"
    min_reps, max_reps, warm_s = 1, 20, 0.0

    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark, self.seed = spark, seed
        self.turns = SIZES[size][self.name]
        self.input = os.path.join(work, "job_input")
        self.reps_dir = os.path.join(work, "job_reps")
        self.input_desc = f"{self.turns} synthetic turns"
        self.golden_key = f"{self.turns}/{seed}"
        self.shipped = seed in SHIPPED_SEEDS
        self.rep_checks: list = []
        self.first_rows = None
        self.first_outputs = None

    def make_inputs(self) -> None:
        write_synth(self.spark, self.input, self.turns, self.seed)

    def setup(self) -> None:
        """The job's start: route validation and the plan build. There is
        no warm-up rep: each rep is one job invocation, which a real job
        pays cold (codegen and JIT included)."""
        from cernan_spark.operators.route import validate_routes
        from cernan_spark.plans.pipeline import run_pipeline
        from cernan_spark.sources.dimensions import default_routes

        validate_routes(default_routes(self.spark))
        run_pipeline(self.spark, self.spark.read.parquet(self.input))

    def _run(self, i: int, span=None) -> dict:
        """One job invocation; ``span(layer)`` wraps each public call."""
        from cernan_spark.plans.checkpoint import run_metrics
        from cernan_spark.plans.pipeline import run_pipeline
        from cernan_spark.plans.sinks import write_sinks
        from cernan_spark.plans.telemetry import internal_telemetry

        span = span or (lambda layer: contextlib.nullcontext())
        d = os.path.join(self.reps_dir, f"rep{i}")
        lineage = os.path.join(d, "lineage")
        shutil.rmtree(d, ignore_errors=True)
        with span("plans.pipeline.build"):
            out = run_pipeline(self.spark, self.spark.read.parquet(self.input))
        with span("plans.sinks.write_sinks"):
            paths = write_sinks(self.spark, out, os.path.join(d, "out"), lineage_path=lineage)
        with span("plans.checkpoint.run_metrics"):
            metrics = run_metrics(self.spark, lineage).collect()
        with span("plans.telemetry.internal_telemetry"):
            telemetry = internal_telemetry(self.spark, out).collect()
        return {
            "dir": d,
            "paths": paths,
            "lineage_rows": sum(r["total_rows"] for r in metrics),
            "telemetry": {r["name"]: r["value"] for r in telemetry},
        }

    def rep(self, i: int) -> dict:
        return self._run(i)

    def after_rep(self, i: int, result: dict) -> None:
        """Row accounting for this rep, then delete its directories."""
        spark = self.spark
        try:
            lin = spark.read.parquet(os.path.join(result["dir"], "lineage"))
            lin_rows = {
                r["sink"]: r["n"]
                for r in lin.groupBy("sink").agg(F.sum("n_rows").alias("n")).collect()
            }
            sinks = {s: _read_sink(spark, p) for s, p in result["paths"].items()}
            written = {s: df.count() for s, df in sinks.items() if df is not None}
            total = sum(written.values())
            self.rep_checks.append((
                f"rep {i}: lineage n_rows == rows written, per sink",
                lin_rows == written and total == result["lineage_rows"],
                f"lineage {lin_rows} written {written}",
            ))
            if self.first_rows is None:
                self.first_rows = total
                self.first_outputs = {
                    "sinks": {
                        s: fingerprint(df) if df is not None else {"rows": 0, "hash": "0"}
                        for s, df in sorted(sinks.items())
                    },
                    "telemetry": {
                        k: result["telemetry"][k] for k in sorted(result["telemetry"])
                    },
                }
            else:
                self.rep_checks.append((
                    f"rep {i}: wrote as many rows as the first rep",
                    total == self.first_rows,
                    f"{total} vs {self.first_rows}",
                ))
        except Exception as e:  # noqa: BLE001
            self.rep_checks.append((f"rep {i}: output readable", False, repr(e)[:300]))
        finally:
            shutil.rmtree(result["dir"], ignore_errors=True)

    def outputs(self) -> dict:
        if self.first_outputs is None:
            self.after_rep(0, self._run(0))
        return self.first_outputs

    def checks(self, golden: dict | None) -> list:
        got = self.outputs()
        # influxdb only takes purchase*/errors series, which the synthetic
        # corpus does not emit, so it legitimately writes nothing
        fed = [s for s in got["sinks"] if s != "influxdb"]
        out = [
            *self.rep_checks,
            (
                "every fed sink wrote rows",
                len(got["sinks"]) == 6 and all(got["sinks"][s]["rows"] > 0 for s in fed),
                str(got["sinks"]),
            ),
        ]
        out += _golden_checks("sinks", got["sinks"], golden and golden["sinks"], self.shipped)
        if golden is not None:
            out.append((
                "golden internal_telemetry",
                got["telemetry"] == golden["telemetry"],
                str(got["telemetry"]),
            ))
        return out


class OperatorSuite:
    """The eleven queries bench.py times, over a copy of the repository's
    fixed reference tables (TESTDATA.md) kept in perfbench/data. The seed
    does not apply: the tables are the same for every run."""

    name = "operator_suite"
    min_reps, max_reps, warm_s = 2, 100, 1.0  # warm-up: one rep

    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark = spark
        sf = SIZES[size][self.name]
        self.turns = None
        self.input = os.path.join(HERE, "data", sf)
        self.input_desc = f"reference tables {sf} (seed does not apply)"
        self.golden_key, self.shipped = sf, True
        self.query_s: dict[str, list[float]] = {}

    def make_inputs(self) -> None:
        pass

    def build(self) -> dict:
        import __spark_entry__ as entry
        from cernan_spark.operators.dedup import minhash_lsh_candidates

        qs = entry.queries()
        frames = {}
        for layer, q in SUITE:
            if q is None:
                docs = self.spark.read.parquet(f"{self.input}/documents.parquet")
                frames[layer] = minhash_lsh_candidates(docs, portable=False).select(
                    "id_a", "id_b", "n_match", "est_jaccard"
                )
            else:
                frames[layer] = qs[q](self.spark, self.input)
        return frames

    def setup(self) -> None:
        self.frames = self.build()
        for df in self.frames.values():
            noop_write(df)

    def rep(self, i: int):
        """Rep ``i``; a negative ``i`` is a warm-up rep, whose query times
        are not kept."""
        for layer, df in self.frames.items():
            t0 = time.perf_counter()
            noop_write(df)
            if i >= 0:
                self.query_s.setdefault(layer, []).append(time.perf_counter() - t0)

    def after_rep(self, i: int, result) -> None:
        pass

    def outputs(self) -> dict:
        return {layer: fingerprint(df) for layer, df in self.frames.items()}

    def checks(self, golden: dict | None) -> list:
        """Arrow-exact DuckDB comparison where an oracle exists, goldens
        for the rest."""
        import duckdb

        import __spark_entry__ as entry
        from check_oracle_arrow import TABLES, _rowset, _tz_equiv

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.input}/{t}.parquet'")
        out, rest = [], {}
        for layer, q in SUITE:
            df = self.frames[layer]
            if q not in oracles:
                rest[layer] = fingerprint(df)
                out.append((f"{layer} non-empty", rest[layer]["rows"] > 0, str(rest[layer])))
                continue
            st = df.toArrow()
            ot = con.execute(oracles[q]).arrow()
            cols = sorted(st.column_names)
            ok = cols == sorted(ot.column_names) and st.num_rows == ot.num_rows
            ok = ok and all(
                st.schema.field(c).type == ot.schema.field(c).type
                or _tz_equiv(st.schema.field(c).type, ot.schema.field(c).type)
                for c in cols
            )
            exact = [c for c in cols if c != TIE_COLUMNS.get(q)]
            ok = ok and _rowset(st, exact) == _rowset(ot, exact)
            if ok and q in TIE_COLUMNS:
                ok = _rounded_mean_ok(st)
            out.append((f"oracle {layer}", ok, f"{st.num_rows} vs {ot.num_rows} rows"))
        con.close()
        golden = golden and {k: golden[k] for k in rest}
        return out + _golden_checks(self.name, rest, golden, self.shipped)


WORKLOADS = {w.name: w for w in (PipelineSynth, JobSinks, OperatorSuite)}
