"""Scan parallelism for the parquet tables the driver reads.

At 100 TB the same scans read an Iceberg/parquet warehouse; predicate
pushdown and column pruning happen in the scan because every downstream
operator is expressed declaratively.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_scan(df: DataFrame, *keys: str) -> DataFrame:
    """Raise a parallelism-deficient scan to the session's default
    parallelism (guide §2.5 "input skew: one huge unsplittable file").

    A parquet file with a single row group cannot be split below file
    granularity, so every narrow operator fused onto its scan (parse,
    format, classify, partial aggregation) runs in ONE task no matter how
    many cores the session has — the driver test data ships exactly such
    files. When the scan's natural split count is already >= the default
    parallelism (any real multi-file / multi-row-group warehouse at scale),
    this is a NO-OP: no exchange is added, so cluster plans are unchanged.

    The redistribution hashes on ``keys`` (deterministic — a keyless
    round-robin both pays a local sort of its input, SPARK-23207, and is
    unsafe under task retry): pick a high-cardinality column, ideally one
    a downstream window/groupBy partitions by so the exchange is reused.
    """
    sc = df.sparkSession.sparkContext
    par = sc.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par, *keys)
    # natural splits can be PHANTOM: byte-range splits of a parquet file
    # only yield rows for the range holding a row group's midpoint, so a
    # 32-split scan of a 16-row-group file still runs 16 real tasks.
    # Cap the no-op decision by the actual row-group count when that is
    # cheap to know (local parquet, fewer files than cores — any real
    # warehouse passes the file-count check without touching footers).
    # Only a BARE scan can have phantom splits; any transformed/
    # repartitioned frame's partition count is real.
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() not in (
        "LogicalRelation", "LogicalRelationWithTable"
    ):
        return df
    files = df.inputFiles()
    if not files or len(files) >= par:
        return df
    if all(f.startswith("file:") and f.endswith(".parquet") for f in files):
        try:
            import pyarrow.parquet as pq
            from urllib.parse import unquote, urlparse

            groups = sum(
                pq.ParquetFile(
                    unquote(urlparse(f).path)
                ).metadata.num_row_groups
                for f in files
            )
        except Exception:
            return df
        if groups < par:
            return df.repartition(par, *keys)
    return df
