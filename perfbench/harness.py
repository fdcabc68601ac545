"""Shared measurement machinery: the pinned session, closed-loop timing,
JVM peak-RSS sampling and order-insensitive output fingerprints."""

from __future__ import annotations

import json
import os
import platform
import statistics
import threading
import time

HEAP = "3g"  # fits a 15 GB host; the session default (64g) does not


def load_goldens(path: str) -> dict:
    """``{workload: {input key: outputs}}``; empty when the file is absent."""
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")  # wins over spark.local.dir
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    os.environ["SPARK_GC_OPTS"] = f"-XX:+UseParallelGC -Xms{HEAP} -Djava.io.tmpdir={tmp}"
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def start_session(work: str, n_cores: int, event_log_dir: str | None = None):
    """local[n] with shuffle partitions = n, a host-sized heap, and the
    periodic cleaner GC off (GC runs at rep boundaries instead)."""
    from cernan_spark.session import get_spark

    conf = {
        "spark.cleaner.periodicGC.interval": "24h",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.dir"] = "file://" + os.path.abspath(event_log_dir)
    return get_spark(
        app_name="perfbench", cpus=n_cores, shuffle_partitions=n_cores, extra_conf=conf
    )


def stop_session(spark) -> None:
    """Stop Spark and the gateway JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def host_info(spark, n_cores: int) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "cores": n_cores,
        "heap_gb": round(jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**30, 2),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def jvm_gc(spark) -> None:
    spark.sparkContext._jvm.System.gc()


class RssSampler:
    """Peak VmRSS of the gateway JVM, sampled while ``active`` is set."""

    def __init__(self, spark, period_s: float = 0.02):
        self.pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        self.period_s = period_s
        self.peak_kb = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _rss_kb(self) -> int:
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
        return 0

    def _run(self) -> None:
        while not self._stop.is_set():
            if self.active.is_set():
                self.peak_kb = max(self.peak_kb, self._rss_kb())
            time.sleep(self.period_s)

    def close(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak_kb / 1024.0


def timed_reps(spark, wl, seconds: float, sampler):
    """Closed loop: one rep at a time, GC at each boundary, until the timed
    windows add up to ``seconds`` (at least ``wl.min_reps``). ``wl.after_rep``
    runs outside the timed window. Returns ``(times, errors)``; a rep that
    raises counts as failed."""
    times, errors = [], []
    while len(times) + len(errors) < wl.max_reps and (
        len(times) < wl.min_reps or sum(times) < seconds
    ):
        i = len(times) + len(errors)
        jvm_gc(spark)
        sampler.active.set()
        t0 = time.perf_counter()
        try:
            out = wl.rep(i)
        except Exception as e:  # noqa: BLE001
            sampler.active.clear()
            errors.append(f"rep {i}: {e!r}"[:300])
            if len(errors) >= 3:
                break
            continue
        dt = time.perf_counter() - t0
        sampler.active.clear()
        times.append(dt)
        wl.after_rep(i, out)
    return times, errors


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


# -- output fingerprints ------------------------------------------------------


def _canon(c, dt):
    """Canonical column for hashing: floats rounded to 6 places (summation
    order may move the last bits), maps as sorted entry arrays."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return F.round(c.cast("double"), 6)
    if isinstance(dt, T.ArrayType):
        return F.transform(c, lambda x: _canon(x, dt.elementType))
    if isinstance(dt, T.MapType):
        return F.array_sort(
            F.transform(
                F.map_entries(c),
                lambda e: F.struct(
                    _canon(e["key"], dt.keyType).alias("k"),
                    _canon(e["value"], dt.valueType).alias("v"),
                ),
            )
        )
    if isinstance(dt, T.StructType):
        return F.struct(*[_canon(c[f.name], f.dataType).alias(f.name) for f in dt.fields])
    return c


def fingerprint(df) -> dict:
    """Row count + order-insensitive hash (exact sum of per-row xxhash64)."""
    from pyspark.sql import functions as F

    fields = sorted(df.schema.fields, key=lambda f: f.name)
    h = F.xxhash64(*[_canon(F.col(f"`{f.name}`"), f.dataType) for f in fields])
    r = (
        df.select(h.cast("decimal(20,0)").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s"))
        .collect()[0]
    )
    return {"rows": int(r["n"]), "hash": str(r["s"] if r["s"] is not None else 0)}
